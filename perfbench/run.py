"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Builds nothing: the program is the
Python package next to this directory, driven from outside through its
public functions on ``local[<cores>]``.  Inputs are generated from
``--seed``; everything written goes under ``.perfbench_work/`` (removed
at exit) and, for traced runs, the span file under ``.perfbench_out/``.

Workloads (see ``perfbench/METRICS.md`` for the metrics and the
per-layer predictions):

* ``cdc_backfill_tail_large`` — the two-stage CDC pipeline: a chunked
  snapshot loaded closed-loop, then an open-loop tail of updates and
  deletes spread over the whole state;
* ``batch_headline`` — the 18 headline registry queries.

Standard output: one JSON line of labels and details, then, as the
last line, ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  Exit status 0 unless the benchmark itself could not
run (a failed check is reported in the JSON, not by the exit status).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import statistics
import sys
import threading
import time
from typing import Any

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "experiment_flink_cdc_connectors_postgres_datastream_spark"

#: CDC workload sizing: the snapshot is ~13x the 1,500 users of the
#: sf0.1 events table, so state-size costs show; the tail runs at a
#: rate the parent sustains
SNAPSHOT_ROWS = 20_000
TAIL_RATE = 200.0
#: batch workload scale (tables like the test data's sf0.01)
BATCH_SF = 0.01
#: ``--small``: the smoke-test size
SMALL_SNAPSHOT_ROWS = 500
SMALL_BATCH_SF = 0.001

END_TO_END = {
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "ops_per_s": "1/s",
    "setup_s": "s",
}
#: peak_rss_mb covers the whole process tree, not one layer; it sits
#: here, with no bound, because under the program's 8 GB default heap
#: the JVM's resident size follows G1's heap-expansion decisions and
#: spread 0.13-0.28 (IQR / median) over ten seeds
PER_LAYER = {
    "peak_rss_mb": "MB",
    "sources.postgres_cdc.plan_ms": "ms",
    "sources.postgres_cdc.pickup_lag_ms": "ms",
    "sources.postgres_cdc.changes_per_batch": "count",
    "sinks.bus.publish_ms": "ms",
    "stage1.batches": "count",
    "stage1.engine_ms": "ms",
    "stage1.trigger_ms": "ms",
    "stage2.batches": "count",
    "stage2.engine_ms": "ms",
    "stage2.trigger_ms": "ms",
    "sources.bus_upsert.plan_ms": "ms",
    "sources.bus_upsert.rows_read_per_change": "ratio",
    "streaming.compaction.batch_ms": "ms",
    "streaming.compaction.changes_per_batch": "count",
    "streaming.compaction.jobs_per_batch": "count",
    "streaming.statestore.read_ms": "ms",
    "streaming.statestore.commit_ms": "ms",
    "streaming.statestore.buckets_rewritten_per_batch": "count",
    "streaming.statestore.bytes_written_per_change": "B",
    "sinks.jdbc_upsert.upsert_ms": "ms",
    "sinks.jdbc_upsert.bytes_written_per_batch": "B",
    "io.resolve_ms": "ms",
    "queries.build_ms": "ms",
    "queries.build_jobs": "count",
    "catalyst_ms": "ms",
    "execute_ms": "ms",
    "execute_jobs": "count",
}


# -- process tree --------------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class RssSampler:
    """Peak memory of this process tree (JVM and Python workers
    included): the proportional set size from ``/proc/<pid>/smaps_rollup``
    summed over the tree every 0.5 s, so pages that forked Python
    workers share are counted once."""

    def __init__(self) -> None:
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        total = 0
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, ValueError, IndexError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.wait(0.5):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc: Any) -> None:
        self._stop.set()
        self._thread.join()


# -- session --------------------------------------------------------------
def _environment(work: str, cores: int) -> None:
    """Confine the session to the checkout and make the package and
    this directory importable by Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
            "PYSPARK_SUBMIT_ARGS": (
                "--conf spark.ui.showConsoleProgress=false "
                f"--conf spark.driver.extraJavaOptions='-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
                "--conf spark.sql.streaming.numRecentProgressUpdates=100000 "
                "pyspark-shell"
            ),
        }
    )


def setup(register) -> tuple[Any, float]:
    """Start the session: launch the JVM, build the context and
    register the workload's sources.  Returns ``(session, seconds)``."""
    from experiment_flink_cdc_connectors_postgres_datastream_spark.session import get_session

    t0 = time.perf_counter()
    spark = get_session("perfbench")
    register(spark)
    setup_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, setup_s


def _active_session():
    """The session a failed workload left running, if any."""
    if "pyspark" not in sys.modules:
        return None
    from pyspark.sql import SparkSession

    return SparkSession.getActiveSession()


def shutdown(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for
    each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    procs = [p for p in descendants(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the JVM's gateway server exits when its stdin closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 20
    for pid in procs:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def _alive(pid: int) -> bool:
    """Running, i.e. present and not a zombie awaiting its parent."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


# -- workloads --------------------------------------------------------------
def _quantile(xs: list[float], q: int) -> float:
    if len(xs) < 2:
        return float(xs[0]) if xs else 0.0
    return float(statistics.quantiles(xs, n=100, method="inclusive")[q - 1])


def run_cdc(args, work: str, tracer) -> dict[str, Any]:
    from perfbench import cdc

    spark, setup_s = setup(cdc.register)
    rows = SMALL_SNAPSHOT_ROWS if args.small else SNAPSHOT_ROWS
    spec = {
        "seed": args.seed,
        "snapshot_rows": rows,
        "snapshot_chunk_size": rows // 4,
        "snapshot_chunks_per_trigger": 4,
        "rate": TAIL_RATE,
        "n_changes": int(TAIL_RATE * args.seconds),
    }
    run = cdc.CdcRun(spark, spec, os.path.join(work, "cdc"), tracer)
    status = run.run()
    m = run.metrics()
    fresh = m["fresh_ms"]
    attempted = spec["snapshot_rows"] + spec["n_changes"]
    backfill_s = m["backfill_s"]
    detail = {
        "freshness_p50_ms": statistics.median(fresh) if fresh else None,
        "freshness_p99_ms": _quantile(fresh, 99),
        "freshness_samples": {"changes": len(fresh), "stage2_batches": m["tail_batches2"]},
        "backfill_changes_per_s": spec["snapshot_rows"] / backfill_s if backfill_s else None,
        "error": status["error"],
        "phase_s": run.phase_s,
    }
    return {
        "spark": spark,
        "correct": status["correct"],
        "attempted": attempted,
        "failed": 0 if status["correct"] else attempted,
        "e2e": {
            "latency_p50_ms": detail["freshness_p50_ms"] or 0.0,
            "latency_p99_ms": detail["freshness_p99_ms"],
            "ops_per_s": detail["backfill_changes_per_s"] or 0.0,
            "setup_s": setup_s,
        },
        "layers": m["layers"],
        "detail": detail,
    }


def run_batch(args, work: str, tracer) -> dict[str, Any]:
    from perfbench import batch, datagen
    from perfbench.trace import Tracer

    data = os.path.join(work, "data")
    t_inputs = time.perf_counter()
    datagen.generate(data, SMALL_BATCH_SF if args.small else BATCH_SF, args.seed)
    t1 = time.perf_counter()
    spark, setup_s = setup(lambda _spark: None)
    t2 = time.perf_counter()
    problems = batch.check(spark, data, threads=2 * int(os.environ["SPARK_GRAFT_CPUS"]))
    t3 = time.perf_counter()
    # whole laps while they fit in --seconds (at least one)
    laps: list[Any] = []
    deadline = time.perf_counter() + args.seconds
    while True:
        t0 = time.perf_counter()
        laps.append(batch.Lap(spark, data, Tracer(False)).run())
        if time.perf_counter() + (time.perf_counter() - t0) > deadline:
            break
    failed = set(problems)
    for lap in laps:
        failed.update(lap.failed)
    per_query = {
        name: statistics.median([lap.ms[name] for lap in laps if name in lap.ms])
        for name in batch.HEADLINE
        if name not in failed
    }
    samples = [lap.ms[name] for lap in laps for name in per_query]
    suite_ms = sum(per_query.values())
    layers: dict[str, float] = {}
    detail: dict[str, Any] = {
        "batch_suite_s": suite_ms / 1000.0,
        "laps": len(laps),
        "per_query_ms": per_query,
        "problems": problems,
        "phase_s": {"inputs": t1 - t_inputs, "setup": t2 - t1, "check": t3 - t2, "laps": time.perf_counter() - t3},
    }
    if tracer.enabled:
        # traced lap between two untraced ones: the overhead is measured
        # against their mean, so later laps running warmer does not
        # count against (or for) the tracer
        traced = batch.Lap(spark, data, tracer).run()
        after = batch.Lap(spark, data, Tracer(False)).run()
        layers = traced.layers
        failed.update(traced.failed)
        untraced_ms = (sum(laps[-1].ms.values()) + sum(after.ms.values())) / 2.0
        detail["trace_overhead_pct"] = 100.0 * (sum(traced.ms.values()) / untraced_ms - 1.0)
    return {
        "spark": spark,
        "correct": not failed,
        "attempted": len(batch.HEADLINE),
        "failed": len(failed),
        "e2e": {
            "latency_p50_ms": statistics.median(per_query.values()) if per_query else 0.0,
            "latency_p99_ms": _quantile(samples, 99),
            "ops_per_s": len(per_query) / (suite_ms / 1000.0) if suite_ms else 0.0,
            "setup_s": setup_s,
        },
        "layers": layers,
        "detail": detail,
    }


WORKLOADS = {
    "cdc_backfill_tail_large": run_cdc,
    "batch_headline": run_batch,
}


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--small", action="store_true", help="smoke-test input size")
    args = parser.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the package {PACKAGE!r} is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from bench import _cpu_stat, _steal_pct
    from perfbench.trace import Tracer

    cores = os.cpu_count() or 1
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _environment(work, cores)
    tracer = Tracer(bool(args.trace))
    cpu0, load0 = _cpu_stat(), os.getloadavg()[0]
    result: dict[str, Any] = {}
    try:
        with RssSampler() as rss:
            try:
                result = WORKLOADS[args.workload](args, work, tracer)
            finally:
                spark = result.get("spark") or _active_session()
                if spark is not None:
                    shutdown(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    labels = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "steal_pct": _steal_pct(cpu0, _cpu_stat()),
        "loadavg_before": load0,
        "loadavg_after": os.getloadavg()[0],
        "failed_ops_frac": result["failed"] / result["attempted"],
        "peak_rss_mb": rss.peak_bytes / 2**20,
    }
    e2e = result["e2e"]
    layers = dict(result["layers"], peak_rss_mb=labels["peak_rss_mb"])
    if tracer.enabled:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        spans = os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.dump(spans)
        labels["spans"] = os.path.relpath(spans, ROOT)
        labels["self_ms"] = tracer.self_times_ms()
        labels["end_to_end"] = e2e
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"labels": labels, "detail": result["detail"]}, default=str))
    print(
        json.dumps(
            {
                "correct": bool(result["correct"]),
                "attempted": int(result["attempted"]),
                "failed": int(result["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
