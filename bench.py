"""Benchmark harness for the registry queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], $SPARK_GRAFT_BENCH_REPS
interleaved passes (default 3).

  python bench.py                             # full inventory, ONE JSON line
  python bench.py q1 q2 [--explain-dir DIR]   # subset, one line per rep

Full mode prints {"metric", "value": total median sec, "unit", "queries",
"sf", "cpu_s", ...} as its last stdout line and, at sf0.1, writes the
per-query record to BENCH_FULL_LOCAL*.json. Subset mode prints each rep's
wall, build and CPU seconds and writes no artifact. In both modes
--explain-dir writes each query's explain("formatted") to DIR/<query>.txt.

Each query is forced with a noop-format write (full execution, no driver
collect) so the timing reflects the distributed plan, not result transfer.
CPU seconds are this process tree's (driver, JVM, Python workers) from
/proc: hypervisor steal inflates wall time, not CPU time.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nutch_spark.plans import REGISTRY
from nutch_spark.session import get_spark
from perfbench.ledger import steal_s, tree_cpu_s
from perfbench.workloads import noop_write


def warm_up(spark, sf_dir: str) -> None:
    """Warm-up: per-query numbers must measure the plan, not run position.
    Registry order rotates between rounds (least-recently-certified first),
    so without this the queries that happen to lead absorb first-touch
    JVM codegen class loading and the Python-worker pool fork (~2-4s) and
    look regressed round-over-round. Warm all three cold paths once:
    parquet footers, whole-stage-codegen of a shuffle agg, and the
    Arrow/pandas worker pool."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    warm = spark.range(0, 1 << 18, 1, 8)
    noop_write(warm.limit(4096).mapInPandas(lambda it: it, "id long"))
    # one pass through the dominant plan shapes of the registry (explode of
    # a transform/sequence lambda, broadcast semi-join, window, hash agg) so
    # their whole-stage-codegen classes compile here, not inside the first
    # timed query that happens to use them
    arr = F.transform(
        F.sequence(F.lit(1), F.lit(5)),
        lambda i: F.md5(F.concat_ws(" ", i.cast("string"))),
    )
    small = spark.range(0, 100).select(
        F.md5(F.col("id").cast("string")).alias("h")
    )
    w = Window.partitionBy(F.col("id") % 7).orderBy("id")
    noop_write(
        warm.select("id", arr.alias("arr"))
        .select("id", F.explode("arr").alias("h"))
        .join(F.broadcast(small), "h", "left_semi")
        .withColumn("rn", F.row_number().over(w))
        .groupBy((F.col("id") % 97).alias("g"))
        .agg(F.count("*").alias("c"))
    )


def timed_run(spark, name: str, sf_dir: str) -> tuple[float, float, float]:
    """One noop-sink execution of a registry query: (wall, build, cpu)
    seconds, build being the driver-side DataFrame construction. The
    DataFrame is dropped on return, so a pass holds one query's blocks."""
    t0, c0 = time.perf_counter(), tree_cpu_s()
    df = REGISTRY[name][0](spark, sf_dir)
    t1 = time.perf_counter()
    noop_write(df)
    return time.perf_counter() - t0, t1 - t0, tree_cpu_s() - c0


def quiet_accumulator_errors(spark) -> None:
    """Deny the benign "Failed to update accumulator" DAGScheduler stack
    traces: a task that completes AFTER its query's SQLExecution has been
    torn down (lazy localCheckpoint partitions materializing at the tail of
    a noop action) cannot update the already-unregistered SQL-metric
    accumulator; the result is correct and the scheduler logs an ERROR
    anyway, ~2k stack traces per full run. A message-scoped RegexFilter
    keeps every other scheduler ERROR visible. Bench-only — engine sessions
    keep full scheduler logging."""
    try:
        jvm = spark.sparkContext._jvm
        Result = jvm.org.apache.logging.log4j.core.Filter.Result
        flt = jvm.org.apache.logging.log4j.core.filter.RegexFilter.createFilter(
            ".*Failed to update accumulator.*",
            None,
            False,
            Result.DENY,
            Result.NEUTRAL,
        )
        ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
        conf = ctx.getConfiguration()
        conf.getLoggerConfig(
            "org.apache.spark.scheduler.DAGScheduler"
        ).addFilter(flt)
        ctx.updateLoggers()
    except Exception:  # noqa: BLE001 — cosmetic only; never block the bench
        pass


def median(xs: list[float]) -> float:
    return sorted(xs)[len(xs) // 2]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="*", help="registry queries (default: all)")
    ap.add_argument("--explain-dir", help="write explain('formatted') per query")
    args = ap.parse_args()
    unknown = [n for n in args.queries if n not in REGISTRY]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    # Fixed alphabetical order in full mode: REGISTRY rotates per round
    # (least-recently-certified first, for the driver's correctness
    # sampling), and run position shifts first-touch codegen costs between
    # queries — sorting keeps per-query times comparable round-over-round.
    names = args.queries or sorted(REGISTRY)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.fullmatch(r"sf(\d*\.?\d+)", os.path.basename(sf_dir.rstrip("/")))
    sf = float(m[1]) if m else None
    spark = get_spark("nutch_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")
    quiet_accumulator_errors(spark)
    warm_up(spark, sf_dir)

    # Median of N runs per query (default 3): one-shot timing cannot
    # distinguish a real plan regression from run position — the r10
    # artifact, measured under end-of-round box load, showed 3-4x phantom
    # regressions on queries whose code hadn't changed, and iterative jobs
    # (linkrank) span 3x cold-vs-warm on identical plans.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    # Wall-clock budget: a full median-of-3 at sf0.1 runs ~17 min; if the
    # harness invoking us has a tighter limit, losing the WHOLE artifact to
    # a kill is worse than degrading to fewer passes — so once the budget
    # is spent, no further pass starts (`reps_degraded` counts the queries
    # left short in the printed line).
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "1350"))
    bench_t0 = time.perf_counter()
    steal0 = steal_s()
    degraded = 0
    runs_all: dict[str, list[float]] = {n: [] for n in names}
    cpu_runs: dict[str, list[float]] = {n: [] for n in names}
    # INTERLEAVED passes (r14): rep i of every query runs before rep i+1
    # of any. This box takes intermittent 2-3 minute external load bursts;
    # back-to-back reps let one burst swallow ALL reps of whatever query is
    # unlucky. Interleaved, a burst costs ONE rep of several queries and
    # every median survives. Per-query start offsets (pass 0) stay in the
    # artifact so a judge can map residual suspects back to wall-clock.
    starts: dict[str, float] = {}
    for rep in range(reps):
        if rep > 0 and time.perf_counter() - bench_t0 > budget_s:
            degraded = len(names)  # remaining passes skipped
            break
        for name in names:
            if rep == 0:
                starts[name] = round(time.perf_counter() - bench_t0, 1)
            wall, build, cpu = timed_run(spark, name, sf_dir)
            runs_all[name].append(round(wall, 3))
            cpu_runs[name].append(round(cpu, 3))
            if args.queries:
                print(
                    f"{name:32s} rep{rep} wall {wall:7.3f}s"
                    f" build {build:6.3f}s cpu {cpu:7.3f}s",
                    flush=True,
                )

    for name in names if args.explain_dir else ():
        os.makedirs(args.explain_dir, exist_ok=True)
        path = os.path.join(args.explain_dir, f"{name}.txt")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            REGISTRY[name][0](spark, sf_dir).explain("formatted")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"{name:32s} explain -> {path}", flush=True)
    if args.queries:
        spark.stop()
        return

    timings = {n: median(r) for n, r in runs_all.items()}
    cpu_med = {n: median(r) for n, r in cpu_runs.items()}
    total = round(sum(timings.values()), 3)
    cpu_total = round(sum(cpu_med.values()), 1)
    # Spread over the WARM runs (run 0 dropped when reps allow): the first
    # execution carries this query's first-touch Catalyst analysis + JIT of
    # its generated code — run position, not plan cost. The full in-order
    # runs array stays in BENCH_FULL_LOCAL.json, cold run included.
    spreads = {}
    for n, r in runs_all.items():
        warm = sorted(r[1:]) if len(r) > 2 else sorted(r)
        t = timings[n]
        spreads[n] = round((warm[-1] - warm[0]) / t, 3) if t > 0 else 0.0
    # Full per-query record goes to a repo artifact — the driver keeps only
    # the LAST ~2000 chars of stdout, and a 181-query JSON line is far over.
    full = {
        "metric": "nutch_spark operator inventory wall-clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "runs": runs_all,
        "spread": spreads,
        "start_offset_s": starts,
        "cpu_s": cpu_total,
        "cpu_queries": cpu_med,
        "cpu_runs": cpu_runs,
        "steal_s": round(steal_s() - steal0, 1),
        "reps": reps,
        "sf": sf,
    }
    # the committed artifact records the CANONICAL sf0.1/32-core
    # median-of-reps run; smoke runs at other SFs write nothing, and
    # reduced-core runs (the driver re-benches at $SPARK_GRAFT_CPUS=8)
    # write to a cpus-suffixed path instead of clobbering it
    if sf == 0.1:
        ncpus = max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        suffix = "" if ncpus == 32 else f"_c{ncpus}"
        repo = os.path.dirname(os.path.abspath(__file__))
        with contextlib.suppress(OSError):
            with open(os.path.join(repo, f"BENCH_FULL_LOCAL{suffix}.json"), "w") as f:
                json.dump(full, f, indent=1, sort_keys=True)
                f.write("\n")

    # The printed line must parse from a 2000-char stdout tail. Sub-1 s
    # queries are tallied in fast_n/fast_sec (their individual times sit at
    # this box's noise floor) and per-query values are median floats
    # rounded to 0.01 s — a consumer diffing rounds per query needs numbers.
    fast = [n for n in timings if timings[n] < 1.0]
    base = {
        "metric": full["metric"],
        "value": total,
        "unit": "sec",
        "sf": sf,
        "queries_total": len(timings),
        "reps": reps,
        "reps_degraded": degraded,
        "load_note": (
            f"median-of-{reps} interleaved; q=median s slowest-first"
            " to line budget; cpu_s=sum of per-query process-tree CPU"
            " medians; value_min=load floor; runs in BENCH_FULL_LOCAL.json"
        ),
        "fast_n": len(fast),
        "fast_sec": round(sum(timings[n] for n in fast), 1),
        "cpu_s": cpu_total,
        "steal_s": full["steal_s"],
        "value_min": round(sum(min(r) for r in runs_all.values()), 1),
        "queries": {},
    }
    # 1985 = the driver's 2000-char stdout tail minus newline slack; greedy
    # skip-packing slowest-first (don't stop at the first too-long entry —
    # later, shorter-named ones may still fit) maximizes the visible rows.
    budget = 1985 - len(json.dumps(base, separators=(",", ":")))
    for name in sorted(timings, key=lambda n: -timings[n]):
        val = round(timings[name], 2)
        entry_len = len(json.dumps({name: val}, separators=(",", ":")))
        if budget - entry_len < 0:
            continue
        base["queries"][name] = val
        budget -= entry_len
    summary = json.dumps(base, separators=(",", ":"))
    # Stop Spark BEFORE printing so no executor/log output can interleave
    # with (or truncate) the summary; the JSON must be the last stdout line.
    spark.stop()
    sys.stderr.flush()
    print(summary, flush=True)


if __name__ == "__main__":
    main()
