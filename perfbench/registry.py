"""The registry workload: a fixed set of registry queries, one or two
per operator module, over seeded fixture tables. One cold pass in a
fresh session (session substrates are built inside it), one untimed
settling pass, then timed warm passes until the run's time is spent.
Each execution is forced with ``.count()`` under
``setJobGroup("<query>#<pass>")`` and checked against the query's
DuckDB oracle row count."""

from __future__ import annotations

import os
import time

from perfbench import engine
from perfbench.stats import median
from perfbench.tables import write_tables
from perfbench.trace import Span, Tracer

# one or two queries per module: aggregates, joins, windows, dedup
# (d17 is the heaviest sf1 query), similarity, text, sampling,
# multimodal (phash + connected-component substrates), batch windows
QUERIES = (
    "q01_pricing_summary",
    "q02_region_revenue",
    "q08_topk_per_group",
    "d01_exact_dedup",
    "d17_containment_pairs",
    "s03_lsh_topk",
    "t02_quality_score",
    "p04_global_shuffle",
    "m08_media_canonical",
    "w01_tumbling",
    "w03_session_window",
)
MIN_WARM_PASSES = 2
# Pass 0 is the cold pass and pass 1 an untimed settling pass. The JVM
# is still compiling the planner's hot paths after the cold pass: the
# first warm pass ran 6-41% slower than the fifth on this host, by an
# amount that varied with the host's load, so timing it widened the
# spread.
FIRST_TIMED_PASS = 2


def module_of(fn) -> str:
    """``operators.joins`` for a query defined in that package module."""
    return fn.__module__.split(".", 1)[1]


def oracle_counts(registry, sf_dir: str) -> dict[str, int | None]:
    """Expected row count per query from its DuckDB oracle (None when
    the query has no oracle), computed in DuckDB over the run's own
    tables and the registry's current ``oracle_sql`` text."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, f)}')"
                )
        out = {}
        for name in QUERIES:
            sql = registry[name].oracle
            out[name] = (
                None if sql is None
                else con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            )
    finally:
        con.close()
    return out


class RegistryRun:
    """One run of the registry workload. Spans go to ``tracer``;
    ``event_log`` turns on Spark's event log."""

    def __init__(self, seed: int, seconds: float, work: str,
                 tracer: Tracer, event_log: bool) -> None:
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.event_log = event_log
        self.result: dict = {}

    def _execute(self, spark, sf_dir: str, name: str, pass_no: int) -> tuple[float, int]:
        sc = spark.sparkContext
        fn = self.registry[name].fn
        sc.setJobGroup(f"{name}#{pass_no}", f"perfbench pass {pass_no}")
        try:
            t0 = time.perf_counter()
            rows = fn(spark, sf_dir).count()
            t1 = time.perf_counter()
        finally:
            sc.setJobGroup("", "")
            spark.catalog.clearCache()
        self.tracer.add(Span(name, module_of(fn), t0, t1, name,
                             {"pass": pass_no}))
        return t1 - t0, rows

    def run(self) -> dict:
        from kafka2clickhouse_py_streamer_spark.operators.base import all_queries

        self.registry = all_queries()
        self.module = {q: module_of(self.registry[q].fn) for q in QUERIES}
        sf_dir = write_tables(self.seed, os.path.join(self.work, "tables"))
        expected = oracle_counts(self.registry, sf_dir)

        conf = engine.session_conf(self.work, event_log=self.event_log)
        spark, a, b = engine.start_session(conf)
        self.tracer.add(Span("session.start", "session", a, b))
        self.spark = spark

        walls: dict[str, list[float]] = {q: [] for q in QUERIES}
        counts: dict[str, list[int]] = {q: [] for q in QUERIES}
        cold = {}
        for q in QUERIES:
            cold[q], n = self._execute(spark, sf_dir, q, 0)
            counts[q].append(n)
        for pass_no in range(1, FIRST_TIMED_PASS):
            for q in QUERIES:
                counts[q].append(self._execute(spark, sf_dir, q, pass_no)[1])
        deadline = time.perf_counter() + self.seconds
        passes = 0
        t_warm = time.perf_counter()
        while passes < MIN_WARM_PASSES or time.perf_counter() < deadline:
            for q in QUERIES:
                wall, n = self._execute(spark, sf_dir, q, FIRST_TIMED_PASS + passes)
                walls[q].append(wall)
                counts[q].append(n)
            passes += 1
        warm_window = time.perf_counter() - t_warm

        failed = 0
        for q in QUERIES:
            want = expected[q]
            for n in counts[q]:
                bad = n != want if want is not None else (n <= 0 or n != counts[q][0])
                failed += int(bad)
        executions = sum(len(c) for c in counts.values())
        samples = [w * 1000.0 for q in QUERIES for w in walls[q]]
        self.result = {
            "setup_s": b - a,
            "cold_s": sum(cold.values()),
            "cold_by_query": cold,
            "warm_by_query": {q: median(walls[q]) for q in QUERIES},
            "latency_ms": samples,
            "throughput_per_s": passes * len(QUERIES) / warm_window,
            "passes": passes,
            "counts": {q: counts[q][0] for q in QUERIES},
            "expected": expected,
            "attempted": executions,
            "failed": failed,
            "correct": failed == 0,
        }
        return self.result
