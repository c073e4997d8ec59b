"""The benchmark workloads: seeded inputs, a warm-up, one timed pass, the
output check and the traced pass of each.

A pass returns its wall time, the wall time and CPU time of each item (a
crawl round or a registry query) and the outputs the check reads.
"""

from __future__ import annotations

import contextlib
import datetime
import hashlib
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.ledger import Tracer, tree_cpu_s

_HERE = os.path.dirname(os.path.abspath(__file__))
# A fixed `now`: generate's due-time filter and updatedb's schedule math
# see the same clock on every pass and every run.
_NOW = datetime.datetime(2026, 1, 1)

# Operator layers of the crawl round: layer -> (module, public function).
CRAWL_OPERATORS = {
    "operators.inject": ("nutch_spark.operators.inject", "inject"),
    "operators.generate": ("nutch_spark.operators.generate", "generate"),
    "operators.fetcher.fetch": ("nutch_spark.operators.fetcher", "fetch"),
    "operators.fetcher.parse": ("nutch_spark.operators.fetcher", "parse"),
    "operators.fetcher.emit": ("nutch_spark.operators.fetcher", "emit_parse_rows"),
    "operators.updatedb": ("nutch_spark.operators.updatedb", "update_crawldb"),
    "operators.dedup": ("nutch_spark.operators.dedup", "deduplicate"),
    "operators.invertlinks": ("nutch_spark.operators.invertlinks", "invert_links"),
    "operators.merge": ("nutch_spark.operators.merge", "merge_linkdbs"),
}
# Iterative-kernel layers the registry workload exercises: layer -> module.
ITERATIVE_LAYERS = {
    "operators.linkrank": "nutch_spark.operators.linkrank",
    "datapipe.dedup": "nutch_spark.datapipe.dedup",
    "datapipe.similarity": "nutch_spark.datapipe.similarity",
    "datapipe.tokenize": "nutch_spark.datapipe.tokenize",
}
REGISTRY_QUERIES = ("g3_linkrank", "dp_dup_components", "dp_ivf_topk", "dp_bpe_train")
_CRAWLDB_STATUSES = {
    "db_unfetched", "db_fetched", "db_gone", "db_redir_temp",
    "db_redir_perm", "db_notmodified", "db_duplicate", "db_parse_failed",
}


@dataclass
class PassResult:
    wall_s: float
    item_s: list[float]
    item_cpu_s: list[float]  # process-tree CPU seconds per item
    outputs: object
    windows: list[tuple[float, float]]  # (start, end) epoch seconds per item


@dataclass
class Check:
    failed_items: int
    problems: list[str]
    output_hash: dict


def noop_write(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# Crawl workload
# ---------------------------------------------------------------------------


@dataclass
class CrawlWorkload:
    """``pipeline.crawl`` with the synthetic fetcher and a fixed ``now``."""

    name: str
    n_seeds: int
    rounds: int
    top_n: int
    warm: tuple[int, int, int]  # (seeds, rounds, top_n) of the warm-up pass
    n_hosts: int = 64
    items_name = "rounds"

    @property
    def n_items(self) -> int:
        return self.rounds

    def _seeds_df(self, spark, seed: int, n: int) -> DataFrame:
        rows = inputs.crawl_seed_urls(seed, n, self.n_hosts)
        return spark.createDataFrame(rows, "url string, metadata map<string,string>")

    def warm_up(self, spark, seed: int, work_dir: str) -> None:
        n, rounds, top_n = self.warm
        self._crawl(self._seeds_df(spark, seed + 7919, n), rounds, top_n)

    def make_inputs(self, spark, seed: int, work_dir: str) -> DataFrame:
        return self._seeds_df(spark, seed, self.n_seeds)

    def run_pass(self, spark, seeds: DataFrame) -> PassResult:
        return self._crawl(seeds, self.rounds, self.top_n)

    def _crawl(self, seeds: DataFrame, rounds: int, top_n: int) -> PassResult:
        """Run ``pipeline.crawl``, timing each round from its
        ``crawl_round`` call to the next (the last ends when crawl returns,
        after its checkpoints)."""
        from nutch_spark import pipeline

        starts: list[float] = []
        cpu: list[float] = []
        stats: list[dict] = []
        real_round = pipeline.crawl_round

        def timed_round(*args, **kwargs):
            starts.append(time.time())
            cpu.append(tree_cpu_s())
            res = real_round(*args, **kwargs)
            stats.append(res.stats)
            return res

        pipeline.crawl_round = timed_round
        try:
            t0 = time.time()
            res = pipeline.crawl(seeds, rounds=rounds, top_n=top_n, now=F.lit(_NOW))
            t1 = time.time()
            cpu.append(tree_cpu_s())
        finally:
            pipeline.crawl_round = real_round
        windows = list(zip(starts, starts[1:] + [t1]))
        return PassResult(
            t1 - t0,
            [b - a for a, b in windows],
            [b - a for a, b in zip(cpu, cpu[1:])],
            (res, stats),
            windows,
        )

    def output_hash(self, outputs) -> dict:
        """Order-insensitive hashes of the final CrawlDb (url, status,
        signature) and LinkDb. ``fetch_time`` and the other schedule columns
        are left out: they follow the wall clock even with a fixed ``now``."""
        res, _ = outputs

        def digest(df: DataFrame, *cols) -> str:
            row = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("s"),
            ).first()
            return hashlib.sha256(f"{row['n']}:{row['s']}".encode()).hexdigest()[:16]

        return {
            "crawldb": digest(res.crawldb, "url", "status", "signature"),
            "linkdb": digest(res.linkdb, "to_url", F.array_sort("inlinks")),
        }

    def pin_key(self) -> str:
        """Pinned hashes hold for one input size and core count only."""
        ncpu = len(os.sched_getaffinity(0))
        return f"{self.name}/{self.n_seeds}x{self.rounds}x{self.top_n}/local[{ncpu}]"

    def check(self, seed: int, outputs, seeds: DataFrame) -> Check:
        """The ``tests/test_pipeline`` invariants plus the pinned per-seed
        output hash. Any problem fails every round of the pass."""
        res, stats = outputs
        db, problems = res.crawldb, []
        statuses = {r[0] for r in db.select("status").distinct().collect()}
        if not statuses <= _CRAWLDB_STATUSES:
            problems.append(f"unknown statuses {statuses - _CRAWLDB_STATUSES}")
        n = db.count()
        if n <= self.n_seeds:
            problems.append(f"frontier did not grow: {n} rows")
        fetched = db.filter(F.col("status") == "db_fetched")
        if fetched.filter(F.col("signature").isNull() | (F.col("retries") != 0)).count():
            problems.append("fetched row without signature or with retries")
        if db.select("url").distinct().count() != n:
            problems.append("duplicate urls in crawldb")
        if res.linkdb.filter(F.size("inlinks") < 1).count():
            problems.append("linkdb target without inlinks")
        if any(s["fetch_success"] > s["pages_fetched"] for s in stats):
            problems.append("round counters inconsistent")
        got = self.output_hash(outputs)
        with open(os.path.join(_HERE, "pinned.json")) as fh:
            pinned = json.load(fh).get(self.pin_key(), {}).get(str(seed))
        if pinned is not None and pinned != got:
            problems.append(f"output hash {got} != pinned {pinned}")
        return Check(self.rounds if problems else 0, problems, got)

    def traced_pass(self, spark, seeds: DataFrame, tracer: Tracer, proc) -> tuple[PassResult, dict]:
        """A pass with every crawl operator wrapped: each call runs under its
        layer's job group, then its DataFrame inputs and its output are
        forced with noop writes. Self time is the call plus the output's
        cost minus the inputs' cost. Returns the pass and per-layer tallies."""
        tally = {layer: dict(self_s=0.0, py_s=0.0, num=0, den=0) for layer in CRAWL_OPERATORS}

        def forcing(layer, fn):
            def traced(*args, **kwargs):
                t = tally[layer]
                t0 = time.time()
                with tracer.group(layer):
                    out = fn(*args, **kwargs)
                call_s = time.time() - t0
                ins = _dataframes(args, kwargs)
                in_s, in_py = _force_all(ins, tracer, layer + "#in", proc)
                out_s, out_py = _force_all([out], tracer, layer, proc)
                t["self_s"] += call_s + max(0.0, out_s - in_s)
                t["py_s"] += max(0.0, out_py - in_py)
                with tracer.group(layer + "#count"):
                    _count_useful(layer, out, ins, t)
                return out

            return traced

        for layer, (module, name) in CRAWL_OPERATORS.items():
            tracer.patch(module, name, lambda fn, layer=layer: forcing(layer, fn))
        try:
            result = self.run_pass(spark, seeds)
        finally:
            tracer.unpatch()
        return result, tally


def _dataframes(args, kwargs) -> list[DataFrame]:
    out = []
    for a in list(args) + list(kwargs.values()):
        if isinstance(a, DataFrame):
            out.append(a)
        elif isinstance(a, (list, tuple)):
            out.extend(x for x in a if isinstance(x, DataFrame))
    return out


def _force_all(dfs, tracer: Tracer, group: str, proc) -> tuple[float, float]:
    """Noop-write each DataFrame under ``group``; (wall s, Python-worker CPU s)."""
    before = proc.sample().py_worker_cpu_s
    t0 = time.time()
    with tracer.group(group):
        for df in dfs:
            if isinstance(df, DataFrame):
                noop_write(df)
    return time.time() - t0, proc.sample().py_worker_cpu_s - before


def _count_useful(layer: str, out, ins, tally: dict) -> None:
    """Useful-work counts where the work happens: rows generate selected
    out of the CrawlDb it read, and rows dedup marked duplicate."""
    if layer == "operators.generate":
        tally["num"] += out.count()
        tally["den"] += ins[0].count()
    elif layer == "operators.dedup":
        row = out.agg(
            F.count_if(F.col("status") == "db_duplicate").alias("d"), F.count(F.lit(1)).alias("n")
        ).first()
        tally["num"] += row["d"]
        tally["den"] += row["n"]


# ---------------------------------------------------------------------------
# Registry workload
# ---------------------------------------------------------------------------


@dataclass
class RegistryWorkload:
    """One registry query per iteration kernel, each forced with a noop write
    as ``bench.py`` does, over seeded tables shaped like the ``sf*`` test
    tables."""

    name: str
    sizes: dict
    warm_sizes: dict
    queries: tuple[str, ...] = REGISTRY_QUERIES
    items_name = "queries"
    _oracle_hashes: dict = field(default_factory=dict)

    @property
    def n_items(self) -> int:
        return len(self.queries)

    def warm_up(self, spark, seed: int, work_dir: str) -> None:
        warm_dir = os.path.join(work_dir, "warm_tables")
        inputs.write_registry_tables(seed + 7919, warm_dir, **self.warm_sizes)
        self.run_pass(spark, warm_dir)

    def make_inputs(self, spark, seed: int, work_dir: str) -> str:
        data_dir = os.path.join(work_dir, "tables")
        inputs.write_registry_tables(seed, data_dir, **self.sizes)
        return data_dir

    def run_pass(self, spark, data_dir: str, tracer: Tracer | None = None) -> PassResult:
        from nutch_spark.plans import REGISTRY

        def group(name):
            return tracer.group(name) if tracer else contextlib.nullcontext()

        windows, cpu, outs = [], [], {}
        for q in self.queries:
            t0, c0 = time.time(), tree_cpu_s()
            with group("plans.call"):
                df = REGISTRY[q][0](spark, data_dir)
            with group("plans.force"):
                noop_write(df)
            windows.append((t0, time.time()))
            cpu.append(tree_cpu_s() - c0)
            outs[q] = df
        return PassResult(
            windows[-1][1] - windows[0][0],
            [b - a for a, b in windows],
            cpu,
            outs,
            windows,
        )

    def _oracles(self, data_dir: str) -> dict:
        """Value hash of each query's DuckDB ``oracle_sql`` over the same
        tables, computed once per run."""
        if not self._oracle_hashes:
            import duckdb

            from nutch_spark.plans import REGISTRY
            from tools.check_correctness import value_hash

            con = duckdb.connect()
            try:
                for t in ("lineitem", "documents", "embeddings"):
                    path = os.path.join(data_dir, f"{t}.parquet")
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
                for q in self.queries:
                    res = con.execute(REGISTRY[q][1])
                    cols = [d[0] for d in res.description]
                    self._oracle_hashes[q] = value_hash(cols, res.fetchall())
            finally:
                con.close()
        return self._oracle_hashes

    def check(self, seed: int, outputs, data_dir: str) -> Check:
        """Each query's value hash against its DuckDB oracle's; a mismatch
        fails that query."""
        from tools.check_correctness import value_hash

        # DuckDB runs the oracles while Spark recomputes the outputs
        with ThreadPoolExecutor(1) as pool:
            oracles = pool.submit(self._oracles, data_dir)
            got = {
                q: value_hash(df.columns, [tuple(r) for r in df.collect()])
                for q, df in outputs.items()
            }
            want = oracles.result()
        problems = [
            f"{q}: hash {got[q]} != oracle {want[q]}" for q in self.queries if got[q] != want[q]
        ]
        return Check(len(problems), problems, got)

    def traced_pass(self, spark, data_dir: str, tracer: Tracer, proc) -> tuple[PassResult, dict]:
        """A pass with every public function of the iterative-kernel modules
        wrapped in a span under its layer's job group."""

        def spanned(layer, fn):
            def traced(*args, **kwargs):
                with tracer.group(layer):
                    return fn(*args, **kwargs)

            return traced

        for layer, module in ITERATIVE_LAYERS.items():
            for name in tracer.public_functions(module):
                tracer.patch(module, name, lambda fn, layer=layer: spanned(layer, fn))
        try:
            result = self.run_pass(spark, data_dir, tracer)
        finally:
            tracer.unpatch()
        return result, {}


def make_workload(name: str, scale: str = "full") -> CrawlWorkload | RegistryWorkload:
    """A fresh workload object; ``scale="smoke"`` gives the self-test's
    minimal sizes."""
    smoke = scale == "smoke"
    if name == "crawl_rounds":
        if smoke:
            return CrawlWorkload(name, 100, 2, 100, warm=(16, 1, 16))
        return CrawlWorkload(name, 1000, 3, 1000, warm=(100, 2, 100))
    if name == "registry_iterative":
        small = dict(n_docs=60, n_vecs=60, n_lineitems=2000)
        if smoke:
            return RegistryWorkload(name, sizes=small, warm_sizes=small)
        full = dict(n_docs=500, n_vecs=500, n_lineitems=20000)
        return RegistryWorkload(name, sizes=full, warm_sizes=small)
    raise ValueError(f"unknown workload {name!r}")
