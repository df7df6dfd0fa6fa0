"""The batch workload: the 18 headline registry queries of ``bench.py``,
each built as registered and executed through the ``noop`` writer, over
seeded tables.

A run first checks every query against its registry DuckDB oracle
(an untimed pass that also warms the JVM), then times whole laps of
the 18 queries.  In traced runs each query is split into table
resolution (``DataFrameReader.parquet``), the rest of the plan build,
Catalyst (``queryExecution().tracker().phases()``) and execution.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
from pyspark.sql import DataFrameReader

from experiment_flink_cdc_connectors_postgres_datastream_spark.io import TABLES
from experiment_flink_cdc_connectors_postgres_datastream_spark.queries import ORACLES, QUERIES

from perfbench.trace import Tracer
from tools.verify_local import normalize, value_hash

#: bench.py's BENCH_QUERIES, fixed here so the workload does not move
#: when bench.py does
HEADLINE = [
    "cdc_pipeline",
    "compact_latest",
    "count_live_by",
    "tumbling_window",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q10",
    "tpch_q18",
    "revenue_by_nation",
    "top_k_orders",
    "asof_join",
    "tokenize",
    "quality_score",
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "similarity_topk",
]
CATALYST_PHASES = ("analysis", "optimization", "planning")


def check(spark, data_dir: str, threads: int) -> dict[str, str]:
    """Run every query once (``threads`` at a time) and compare it
    with its oracle as ``tools/verify_local.py`` does (row count,
    column names, order-insensitive value hash).  Returns
    ``{query: problem}`` for the failures."""

    def spark_side(name: str):
        df = QUERIES[name](spark, data_dir)
        return df.columns, df.collect()

    with ThreadPoolExecutor(max_workers=threads) as pool:
        futures = {name: pool.submit(spark_side, name) for name in HEADLINE}
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        problems: dict[str, str] = {}
        for name, fut in futures.items():
            try:
                cols, rows = fut.result()
            except Exception as exc:  # a failing query is a failed operation
                problems[name] = f"spark: {type(exc).__name__}: {str(exc)[:300]}"
                continue
            res = con.sql(ORACLES[name])
            want_cols = [d[0] for d in res.description]
            want = [tuple(normalize(v) for v in r) for r in res.fetchall()]
            got = [tuple(normalize(v) for v in r) for r in rows]
            if len(got) != len(want):
                problems[name] = f"rowcount {len(got)}, oracle {len(want)}"
            elif sorted(cols) != sorted(want_cols):
                problems[name] = f"columns {sorted(cols)}"
            elif value_hash(got, cols) != value_hash(want, want_cols):
                problems[name] = "value hash mismatch"
        return problems
    finally:
        con.close()


class Lap:
    """One timed pass over the 18 queries; ``ms[name]`` is build plus
    execution time."""

    def __init__(self, spark, data_dir: str, tracer: Tracer):
        self.spark = spark
        self.data_dir = data_dir
        self.tracer = tracer
        self.ms: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.failed: list[str] = []

    def run(self) -> "Lap":
        if self.tracer.enabled:
            self.tracer.wrap(DataFrameReader, "parquet", "io.resolve")
        try:
            for name in HEADLINE:
                try:
                    self.ms[name] = self._one(name)
                except Exception:  # a failing query is a failed operation
                    self.failed.append(name)
        finally:
            self.tracer.unwrap_all()
        return self

    def _one(self, name: str) -> float:
        sc = self.spark.sparkContext
        traced = self.tracer.enabled
        t0 = time.perf_counter()
        if traced:
            sc.setJobGroup(f"perfbench-build-{name}", name)
        with self.tracer.span("queries.build", query=name):
            df = QUERIES[name](self.spark, self.data_dir)
        t1 = time.perf_counter()
        catalyst_ms = 0.0
        if traced:
            # plan the query once on its own QueryExecution so the
            # tracker holds every Catalyst phase (the noop write below
            # plans its own command; this pass exists in traced runs only)
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            catalyst_ms = sum(
                phases.get(p).get().durationMs() for p in CATALYST_PHASES if phases.contains(p)
            )
            sc.setJobGroup(f"perfbench-exec-{name}", name)
        t2 = time.perf_counter()
        with self.tracer.span("execute", query=name):
            df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        if traced:
            tracker = sc.statusTracker()
            build = self.tracer.spans_named("queries.build")[-1]
            resolve = sum(
                self.tracer.ms(s) for s in self.tracer.spans_named("io.resolve") if s["parent"] == build["id"]
            )
            self._add("io.resolve_ms", resolve)
            self._add("queries.build_ms", (t1 - t0) * 1000.0 - resolve)
            self._add("queries.build_jobs", len(tracker.getJobIdsForGroup(f"perfbench-build-{name}")))
            self._add("catalyst_ms", catalyst_ms)
            self._add("execute_ms", (t3 - t2) * 1000.0)
            self._add("execute_jobs", len(tracker.getJobIdsForGroup(f"perfbench-exec-{name}")))
            sc.setJobGroup("perfbench-idle", "")
            return (t1 - t0 + t3 - t2) * 1000.0
        return (t3 - t0) * 1000.0

    def _add(self, key: str, value: float) -> None:
        self.layers[key] = self.layers.get(key, 0.0) + float(value)
