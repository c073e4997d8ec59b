"""Repository benchmark: run one workload closed-loop from one driver
process and print its metrics.

    python3 perfbench/run.py --workload crawl_rounds --seed 1 --seconds 20 --trace 0

``--trace 0`` times passes back to back, starting another only while it
should end within ``--seconds`` (at least one), and prints the end-to-end
metrics. ``--trace 1`` runs one untraced pass and
one traced pass with the Spark event log on, and prints the per-layer
metrics. Either way the outputs are checked outside the timed region, and
the last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_MB = float(1 << 20)

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "item_cpu_p50_s": "s",
}
_CRAWL_OPS = (
    "inject", "generate", "fetcher.fetch", "fetcher.parse", "fetcher.emit",
    "updatedb", "dedup", "invertlinks", "merge",
)
_ITERATIVE = ("operators.linkrank", "datapipe.dedup", "datapipe.similarity", "datapipe.tokenize")
_OP_UNITS = {"self_s": "s", "jobs": "count", "jvm_cpu_s": "s", "shuffle_write_mb": "MiB"}
_IT_UNITS = {"wall_s": "s", "jobs": "count", "jvm_cpu_s": "s", "gc_s": "s", "slot_idle_s": "s"}
_SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "task_run_s": "s",
    "jvm_cpu_s": "s", "py_cpu_s": "s", "gc_s": "s", "shuffle_write_mb": "MiB",
    "spill_mb": "MiB", "slot_idle_s": "s", "driver_gap_s": "s",
    "empty_task_frac": "frac", "retained_block_mb": "MiB", "steal_s": "s",
}
PER_LAYER = {
    "pipeline.jobs_per_round": "count",
    "pipeline.round_s": "s",
    **{f"operators.{op}.{m}": u for op in _CRAWL_OPS for m, u in _OP_UNITS.items()},
    "operators.fetcher.fetch.py_s": "s",
    "operators.fetcher.fetch.success_ratio": "ratio",
    "operators.generate.selected_ratio": "ratio",
    "operators.dedup.dup_ratio": "ratio",
    "plans.call_s": "s",
    "plans.driver_s": "s",
    "plans.jobs_in_call": "count",
    **{f"{layer}.{m}": u for layer in _ITERATIVE for m, u in _IT_UNITS.items()},
    **{f"spark.{m}": u for m, u in _SPARK_UNITS.items()},
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.input_gen_s": "s",
    "session.peak_rss_mb": "MiB",
    "trace.untraced_wall_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_frac": "frac",
}


def _fmt(xs) -> str:
    return " ".join(f"{x:.2f}" for x in xs)


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _prepare_env(work: str, trace: bool, ncpu: int) -> None:
    """Point every scratch location of Spark, the JVM and Python at ``work``,
    size local mode to this machine, and turn the event log on for traced
    runs. Must run before the session starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the repo's modules lazily (datapipe.multimodal's
    # mediacodec import), so they need the repo root on their path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    submit = ["--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        for kv in (
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{events}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ):
            submit += ["--conf", kv]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def _stop(spark) -> None:
    """Stop the session, then end the JVM and wait for it (its Python
    workers are stopped with the session)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _block_mb(spark) -> float:
    """Storage memory held by cached and checkpointed blocks right now."""
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
    it, used = status.values().iterator(), 0
    while it.hasNext():
        max_remaining = it.next()
        used += max_remaining._1() - max_remaining._2()
    return used / _MB


class Run:
    """One benchmark run: set-up, measurement, output checks."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.ncpu = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.metrics: dict[str, float] = {}

    def _check(self, wl, p, data) -> dict:
        """Check one pass's outputs, count its items and failures, and
        return its output hash."""
        check = wl.check(self.args.seed, p.outputs, data)
        self.attempted += wl.n_items
        self.failed += check.failed_items
        self.notes += [f"FAIL {x}" for x in check.problems]
        return check.output_hash

    def execute(self) -> None:
        from perfbench.ledger import ProcTree
        from perfbench.workloads import make_workload

        from nutch_spark.session import get_spark

        wl = make_workload(self.args.workload, self.args.scale)
        t = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("FATAL")
        self.setup = {"session.start_s": time.perf_counter() - t}
        try:
            proc = ProcTree(spark.sparkContext._gateway.proc.pid)
            t = time.perf_counter()
            wl.warm_up(spark, self.args.seed, self.work)
            self.setup["session.warmup_s"] = time.perf_counter() - t
            gen = []
            for _ in range(3):  # set-up repeated; its median is reported
                t = time.perf_counter()
                data = wl.make_inputs(spark, self.args.seed, self.work)
                gen.append(time.perf_counter() - t)
            self.setup["session.input_gen_s"] = statistics.median(gen)
            if self.args.trace:
                self._traced(spark, wl, data, proc)
            else:
                self._timed(spark, wl, data, proc)
        finally:
            _stop(spark)
        if self.args.trace:
            self._ledger_metrics(wl)

    def _timed(self, spark, wl, data, proc) -> None:
        passes, cpu, steal = [], [], []
        t_start = time.perf_counter()
        while True:
            s0 = proc.sample()
            try:
                passes.append(wl.run_pass(spark, data))
            except Exception:  # noqa: BLE001 - a raising pass is a counted failure
                self.notes.append("FAIL pass raised:\n" + traceback.format_exc())
                self.attempted += wl.n_items
                self.failed += wl.n_items
                break
            s1 = proc.sample()
            cpu.append(s1.tree_cpu_s - s0.tree_cpu_s)
            steal.append(s1.steal_s - s0.steal_s)
            # another pass only if it should end within --seconds
            elapsed = time.perf_counter() - t_start
            if elapsed + statistics.median(p.wall_s for p in passes) > self.args.seconds:
                break
        t = time.perf_counter()
        hashes = [self._check(wl, p, data) for p in passes]
        self.notes.append(f"checks took {time.perf_counter() - t:.1f} s")
        if any(h != hashes[0] for h in hashes):
            self.notes.append(f"FAIL passes disagree: {hashes}")
            self.failed += wl.n_items
        if not passes:
            return
        items = [x for p in passes for x in p.item_s]
        item_cpu = [x for p in passes for x in p.item_cpu_s]
        self.notes += [
            f"{len(passes)} passes, {len(items)} {wl.items_name} timed",
            "wall s per pass: " + _fmt(p.wall_s for p in passes),
            "wall s per item: " + _fmt(items),
            "CPU s per item: " + _fmt(item_cpu),
            "machine-wide steal CPU s per pass: " + _fmt(steal),
            f"output {json.dumps(hashes[0])}",
        ]
        s = self.setup
        self.notes.append("setup " + " ".join(f"{k}={v:.2f}" for k, v in s.items()))
        self.metrics = {
            "setup_s": s["session.start_s"] + s["session.warmup_s"] + s["session.input_gen_s"],
            "cpu_s": statistics.median(cpu),
            "item_cpu_p50_s": statistics.median(item_cpu),
        }

    def _traced(self, spark, wl, data, proc) -> None:
        from perfbench.ledger import Tracer

        s0 = proc.sample()
        self.a = wl.run_pass(spark, data)
        self.a_proc = (s0, proc.sample())
        self.retained_mb = _block_mb(spark)
        self.tracer = Tracer(spark.sparkContext)
        t0 = time.time()
        self.b, self.tally = wl.traced_pass(spark, data, self.tracer, proc)
        self.b_window = (t0, time.time())
        self.peak_rss_mb = proc.peak_rss_mb()
        h_a = self._check(wl, self.a, data)
        h_b = self._check(wl, self.b, data)
        self.notes.append(f"output untraced={json.dumps(h_a)} traced={json.dumps(h_b)}")
        if h_a != h_b:
            self.notes.append("FAIL traced and untraced outputs differ")
            self.failed += wl.n_items

    def _ledger_metrics(self, wl) -> None:
        from perfbench.ledger import Ledger

        led = Ledger.read(os.path.join(self.work, "events"))
        s0, s1 = self.a_proc
        a0, a1 = self.a.windows[0][0], self.a.windows[-1][1]
        b0, b1 = self.b_window
        m = dict.fromkeys(PER_LAYER, 0.0)
        m.update(self.setup)

        sl = led.select(a0, a1)
        wall_a = a1 - a0
        m.update({
            "spark.jobs": len(sl.jobs),
            "spark.stages": sl.n_stages,
            "spark.tasks": len(sl.tasks),
            "spark.task_run_s": sl.total("run_s"),
            "spark.jvm_cpu_s": sl.total("cpu_s"),
            "spark.py_cpu_s": s1.py_worker_cpu_s - s0.py_worker_cpu_s,
            "spark.gc_s": sl.total("gc_s"),
            "spark.shuffle_write_mb": sl.total("shuffle_write_mb"),
            "spark.spill_mb": sl.total("spill_mb"),
            "spark.slot_idle_s": max(0.0, self.ncpu * wall_a - sl.busy_s()),
            "spark.driver_gap_s": wall_a - sl.job_covered_s(),
            "spark.empty_task_frac": _ratio(sum(k.empty for k in sl.tasks), len(sl.tasks)),
            "spark.retained_block_mb": self.retained_mb,
            "spark.steal_s": s1.steal_s - s0.steal_s,
            "trace.untraced_wall_s": wall_a,
            "session.peak_rss_mb": self.peak_rss_mb,
            "trace.wall_s": b1 - b0,
            "trace.overhead_frac": (b1 - b0) / wall_a - 1.0,
        })
        if wl.items_name == "rounds":
            m["pipeline.jobs_per_round"] = statistics.median(
                len(led.select(w0, w1).jobs) for w0, w1 in self.a.windows
            )
            m["pipeline.round_s"] = statistics.median(self.a.item_s)
            for layer, t in self.tally.items():
                own, inputs = led.select(b0, b1, layer), led.select(b0, b1, layer + "#in")
                m[f"{layer}.self_s"] = t["self_s"]
                m[f"{layer}.jobs"] = max(0, len(own.jobs) - len(inputs.jobs))
                for key, attr in (("jvm_cpu_s", "cpu_s"), ("shuffle_write_mb", "shuffle_write_mb")):
                    m[f"{layer}.{key}"] = max(0.0, own.total(attr) - inputs.total(attr))
            _, stats = self.a.outputs
            m["operators.fetcher.fetch.py_s"] = self.tally["operators.fetcher.fetch"]["py_s"]
            m["operators.fetcher.fetch.success_ratio"] = _ratio(
                sum(s["fetch_success"] for s in stats), sum(s["pages_fetched"] for s in stats)
            )
            ratios = (("operators.generate", "selected_ratio"), ("operators.dedup", "dup_ratio"))
            for layer, key in ratios:
                m[f"{layer}.{key}"] = _ratio(self.tally[layer]["num"], self.tally[layer]["den"])
        else:
            calls = [s for s in self.tracer.spans if s.layer == "plans.call"]
            m["plans.call_s"] = sum(s.end - s.start for s in calls)
            m["plans.jobs_in_call"] = len(led.select(b0, b1, "plans.call").jobs)
            m["plans.driver_s"] = sum(
                (s.end - s.start) - led.select(s.start, s.end).job_covered_s() for s in calls
            )
            for layer in _ITERATIVE:
                wall = self.tracer.outer_wall_s(layer)
                own = led.select(b0, b1, layer)
                m.update({
                    f"{layer}.wall_s": wall,
                    f"{layer}.jobs": len(own.jobs),
                    f"{layer}.jvm_cpu_s": own.total("cpu_s"),
                    f"{layer}.gc_s": own.total("gc_s"),
                    f"{layer}.slot_idle_s": max(0.0, self.ncpu * wall - own.busy_s()),
                })
        uncalled = "plans.*, " + ", ".join(f"{x}.*" for x in _ITERATIVE)
        if wl.items_name != "rounds":
            uncalled = "pipeline.*, " + ", ".join(f"operators.{x}.*" for x in _CRAWL_OPS)
        self.notes += [
            f"tracing overhead: traced pass {b1 - b0:.3f} s vs untraced {wall_a:.3f} s",
            f"reported as 0, because this workload does not call these layers: {uncalled}",
        ]
        self.metrics = m

    def result(self) -> dict:
        units = PER_LAYER if self.args.trace else END_TO_END
        return {
            "correct": self.failed == 0 and bool(self.metrics),
            "attempted": max(1, self.attempted),
            "failed": self.failed if self.attempted else 1,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in self.metrics.items()},
        }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("crawl_rounds", "registry_iterative"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full",
                    help="input sizes; 'smoke' is the minimal size of the self-test")
    args = ap.parse_args(argv)

    work = os.path.join(REPO, ".perfbench_work", str(os.getpid()))
    run = Run(args, work)
    os.makedirs(work)
    try:
        _prepare_env(work, bool(args.trace), run.ncpu)
        run.execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    for note in run.notes:
        print(note)
    print(json.dumps(run.result()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
