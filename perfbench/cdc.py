"""The CDC workload: the reference's two-stage deployment run as two
concurrent streaming queries over the production modules.

Stage 1: seeded feed → ``PostgresCDCStreamReader`` → ``parse_cdc`` /
``project_flat`` / ``with_key`` → ``to_keyed_json`` → ``spool_frames``
(inside this module's ``foreachBatch``).
Stage 2: ``readStream.format("bus_upsert")`` → ``changelog_from_bus``
→ ``run_compacted_aggregate`` → ``ParquetUpsertSink(refresh=True)``,
standing in for the JDBC sink (there is no Postgres here).

A run is a closed-loop backfill followed by an open-loop tail:

1. both queries start; stage 1 publishes the chunked snapshot and
   stage 2 folds it into the sink.  When the reader has left the
   snapshot phase and both queries have drained, the sink reflects the
   whole snapshot; the time from the start until the end of the
   stage-2 batch that made it visible gives the backfill rate;
2. only then is the tail released (``rate`` changes/s for
   ``seconds``), so tail changes meet warm queries and no cold batch;
3. once every change is released, both queries drain
   (``processAllAvailable``) and stop, and the sink is compared with
   the oracle.

Every figure is read from outside the program: each query's public
``StreamingQueryProgress``, the status tracker's jobs of each query's
run id, and, in traced runs, spans around calls into the layers.
Changes are counted from the generator, never from stage-2
``numInputRows`` (stage 2 scans its input twice per batch): change
``i`` has LSN ``LSN_BASE + i`` and is due at ``t0 + i / rate``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from bisect import bisect_left
from datetime import datetime
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrameReader
from pyspark.sql.types import LongType, StringType, StructField, StructType

from experiment_flink_cdc_connectors_postgres_datastream_spark.cdc.envelope import parse_cdc, project_flat, with_key
from experiment_flink_cdc_connectors_postgres_datastream_spark.sinks.bus import to_keyed_json
from experiment_flink_cdc_connectors_postgres_datastream_spark.sinks.jdbc_upsert import ParquetUpsertSink
from experiment_flink_cdc_connectors_postgres_datastream_spark.sources.bus_upsert import (
    changelog_from_bus,
    register_bus_source,
    spool_frames,
)
from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming.compaction import run_compacted_aggregate
from experiment_flink_cdc_connectors_postgres_datastream_spark.streaming.statestore import GenerationalStateStore

from perfbench import feed
from perfbench.oracles import backfill_oracle
from perfbench.trace import Tracer

FIELDS = [("event_id", LongType()), ("user_id", LongType()), ("event_type", StringType())]
VALUE_SCHEMA = StructType(
    [
        StructField("op", StringType()),
        StructField("schema", StringType()),
        StructField("table", StringType()),
        StructField("ts_ms", LongType()),
        StructField("lsn", LongType()),
        *[StructField(n, t) for n, t in FIELDS],
    ]
)
#: streaming-engine bookkeeping around a micro-batch's own work
ENGINE_PHASES = ("walCommit", "commitOffsets", "queryPlanning", "getBatch")
SINK_SPAN = "sinks.jdbc_upsert.upsert"
#: a run that has not left the snapshot phase by then is failed, so the
#: benchmark still exits in bounded time
SNAPSHOT_TIMEOUT_S = 100


def register(spark) -> None:
    feed.register(spark)
    register_bus_source(spark)


def _epoch_ms(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _offset(value: Any) -> dict[str, Any]:
    if not value:
        return {}
    return json.loads(value) if isinstance(value, str) else dict(value)


def _spool_seq(name: str) -> int:
    # spool_frames names files frames-{seq:08d}-{part:04d}.jsonl and
    # stage 1 publishes with seq = its batch id
    return int(name.split("-")[1])


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class CdcRun:
    """One CDC run in ``work_dir`` on a session with :func:`register`
    applied."""

    def __init__(self, spark, spec: dict[str, Any], work_dir: str, tracer: Tracer):
        self.spark = spark
        self.spec = dict(
            spec,
            clock_path=os.path.join(work_dir, "tail_clock"),
            snapshot_done_path=os.path.join(work_dir, "snapshot_done"),
        )
        self.work = work_dir
        self.tracer = tracer
        self.spool = os.path.join(work_dir, "spool")
        os.makedirs(self.spool, exist_ok=True)
        self.progress1: list[dict[str, Any]] = []
        self.progress2: list[dict[str, Any]] = []
        self.jobs2 = 0
        self.phase_s: dict[str, float] = {}

    # -- pipeline ---------------------------------------------------------
    def _stage1(self):
        raw = self.spark.readStream.format("perfbench_feed").option("spec", json.dumps(self.spec)).load()
        row_schema = StructType([StructField(n, t) for n, t in FIELDS])
        flat = with_key(
            project_flat(parse_cdc(raw.select("value"), row_schema), feed.TABLE, [n for n, _ in FIELDS]),
            "schema",
            "event_id",
        )
        wire = to_keyed_json(
            flat, key_col="key", topic=feed.TABLE, value_cols=[f.name for f in VALUE_SCHEMA.fields]
        )
        spool, tracer = self.spool, self.tracer

        def publish(batch_df, batch_id: int) -> None:
            with tracer.span("sinks.bus.publish"):
                spool_frames(batch_df, spool, seq=batch_id)

        return (
            wire.writeStream.foreachBatch(publish)
            .option("checkpointLocation", os.path.join(self.work, "ckpt1"))
            .queryName("perfbench_stage1")
            .start()
        )

    def _stage2(self):
        frames = self.spark.readStream.format("bus_upsert").option("path", self.spool).load()
        self.sink = ParquetUpsertSink(os.path.join(self.work, "sink"), key_cols=["event_type"], refresh=True)
        return run_compacted_aggregate(
            changelog_from_bus(frames, VALUE_SCHEMA),
            state_dir=os.path.join(self.work, "state"),
            key_cols=["key"],
            seq_cols=["ts_ms", "lsn"],
            group_cols=["event_type"],
            op_col="op",
            agg_exprs=[
                F.count(F.lit(1)).alias("n_live"),
                F.sum("event_id").cast("long").alias("id_checksum"),
            ],
            sink=self.sink,
            checkpoint_dir=os.path.join(self.work, "ckpt2"),
            query_name="perfbench_stage2",
        )

    def _trace_layers(self) -> None:
        t = self.tracer

        def commit_counts(attrs, args, kwargs, result) -> None:
            store = args[0]
            touched = kwargs["touched_buckets"] if "touched_buckets" in kwargs else args[2]
            version = kwargs["version"] if "version" in kwargs else args[3]
            attrs["buckets"] = len(touched)
            attrs["bytes"] = sum(
                _dir_bytes(os.path.join(store.root, d))
                for d in os.listdir(store.root)
                if d == f"gen-{version}" or d.startswith(f"gen-{version}-r")
            )

        t.wrap(GenerationalStateStore, "read", "streaming.statestore.read")
        t.wrap(GenerationalStateStore, "commit", "streaming.statestore.commit", commit_counts)
        t.wrap(ParquetUpsertSink, "__call__", SINK_SPAN)
        t.wrap(DataFrameReader, "parquet", "io.resolve")

    @staticmethod
    def _check_active(*queries) -> None:
        for q in queries:
            if not q.isActive:
                raise RuntimeError(f"{q.name} terminated: {q.exception()}")

    def run(self) -> dict[str, Any]:
        """Backfill, tail, drain, stop, check (see module docstring).
        Returns ``{"correct", "error"}``."""
        self._trace_layers()
        self.t_start = time.time()
        q1 = q2 = None
        error: str | None = None
        try:
            q1 = self._stage1()
            q2 = self._stage2()
            # the reader's first WAL peek follows the commit of the last
            # snapshot batch; with the tail held back, both queries then
            # drain to a sink that reflects the whole snapshot
            while not os.path.exists(self.spec["snapshot_done_path"]):
                self._check_active(q1, q2)
                if time.time() - self.t_start > SNAPSHOT_TIMEOUT_S:
                    raise RuntimeError(f"stage 1 did not finish the snapshot in {SNAPSHOT_TIMEOUT_S} s")
                time.sleep(0.05)
            q1.processAllAvailable()
            q2.processAllAvailable()
            t0 = time.time()
            self.phase_s["backfill"] = t0 - self.t_start
            feed.write_clock(self.spec["clock_path"], t0)
            last_due = t0 + (int(self.spec["n_changes"]) - 1) / float(self.spec["rate"])
            while time.time() < last_due:
                self._check_active(q1, q2)
                time.sleep(0.2)
            # every change is released: drain stage 1, then stage 2
            t_drain = time.time()
            q1.processAllAvailable()
            q2.processAllAvailable()
            self.phase_s["drain"] = time.time() - t_drain
        except Exception as exc:  # a failed or terminated query fails the run
            error = f"{type(exc).__name__}: {exc}"
        finally:
            tracker = self.spark.sparkContext.statusTracker()
            self.progress1 = [json.loads(p.json) for p in q1.recentProgress] if q1 else []
            self.progress2 = [json.loads(p.json) for p in q2.recentProgress] if q2 else []
            self.jobs2 = len(tracker.getJobIdsForGroup(str(q2.runId))) if q2 else 0
            for q in (q1, q2):
                if q is not None:
                    q.stop()
            self.tracer.unwrap_all()
        if error is None:
            rows = self.sink.read(self.spark).collect()
            got = sorted((r["event_type"], r["id_checksum"], r["n_live"]) for r in rows)
            if got != backfill_oracle(self.spec):
                error = f"sink differs from the oracle: {got}"
        return {"correct": error is None, "error": error}

    # -- metrics ----------------------------------------------------------
    def metrics(self) -> dict[str, Any]:
        """Figures from both queries' progress and, when traced, the
        spans.  Latencies are per tail change: the end of the first
        stage-2 batch whose input reached the last spool file of the
        stage-1 batch that carried the change, minus its due time;
        ``tail_batches2`` counts the stage-2 batches that carried tail
        changes."""
        n = int(self.spec["n_changes"])
        rows = int(self.spec["snapshot_rows"])
        rate = float(self.spec["rate"])
        t0 = feed.read_clock(self.spec["clock_path"]) or 0.0
        s1 = [p for p in self.progress1 if p["numInputRows"] > 0]
        s2 = [p for p in self.progress2 if p["numInputRows"] > 0]
        last_file: dict[int, str] = {}
        for name in sorted(os.listdir(self.spool)):
            if name.endswith(".jsonl"):
                last_file[_spool_seq(name)] = name

        # stage-1 batch id → changes it carried (generator indices for
        # the tail, keyset span for the snapshot)
        tail_range: dict[int, tuple[int, int]] = {}
        carried: dict[int, int] = {}
        starts: dict[int, float] = {}
        snapshot_bids: list[int] = []
        for p in s1:
            src = p["sources"][0]
            start, end = _offset(src.get("startOffset")), _offset(src["endOffset"])
            bid = p["batchId"]
            starts[bid] = _epoch_ms(p["timestamp"])
            if end.get("phase") == "wal":
                lo = start.get("lsn", 1) if start.get("phase") == "wal" else 1
                tail_range[bid] = (max(0, lo - feed.LSN_BASE), max(0, end["lsn"] - feed.LSN_BASE))
                carried[bid] = tail_range[bid][1] - tail_range[bid][0]
            else:
                carried[bid] = self._snapshot_through(end) - self._snapshot_through(start)
                snapshot_bids.append(bid)

        # stage-2 batches in order: last spool file read, end time
        ends: list[tuple[str, float]] = []
        per_batch2: list[int] = []
        tail_batches2 = 0
        for p in s2:
            last = _offset(p["sources"][0]["endOffset"])["last"]
            prev = ends[-1][0] if ends else ""
            ends.append((last, _epoch_ms(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0)))
            mine = [bid for bid in carried if prev < last_file.get(bid, "") <= last]
            per_batch2.append(sum(carried[bid] for bid in mine))
            tail_batches2 += any(tail_range[bid][1] > tail_range[bid][0] for bid in mine if bid in tail_range)
        lasts = [name for name, _ in ends]

        def visible_ms(bid: int) -> float | None:
            j = bisect_left(lasts, last_file.get(bid, ""))
            return ends[j][1] if j < len(ends) else None

        fresh: list[float] = []
        pickup: list[float] = []
        for bid, (lo, hi) in tail_range.items():
            vis = visible_ms(bid)
            for i in range(lo, hi):
                due = (t0 + i / rate) * 1000.0
                pickup.append(starts[bid] - due)
                if vis is not None:
                    fresh.append(vis - due)
        snap_vis = visible_ms(max(snapshot_bids)) if snapshot_bids else None
        backfill_s = snap_vis / 1000.0 - self.t_start if snap_vis is not None else None
        n2 = max(1, len(s2))

        def phase(progress: list[dict], name: str) -> float:
            return _median([p["durationMs"].get(name, 0) for p in progress])

        def engine(progress: list[dict]) -> float:
            return _median([sum(p["durationMs"].get(k, 0) for k in ENGINE_PHASES) for p in progress])

        layers: dict[str, float] = {
            "sources.postgres_cdc.plan_ms": phase(s1, "latestOffset"),
            "sources.postgres_cdc.pickup_lag_ms": _median(pickup),
            "sources.postgres_cdc.changes_per_batch": _median(list(carried.values())),
            "stage1.batches": float(len(s1)),
            "stage1.engine_ms": engine(s1),
            "stage1.trigger_ms": phase(s1, "triggerExecution"),
            "stage2.batches": float(len(s2)),
            "stage2.engine_ms": engine(s2),
            "stage2.trigger_ms": phase(s2, "triggerExecution"),
            "sources.bus_upsert.plan_ms": phase(s2, "latestOffset"),
            "sources.bus_upsert.rows_read_per_change": sum(p["numInputRows"] for p in s2) / float(n + rows),
            "streaming.compaction.batch_ms": phase(s2, "addBatch"),
            "streaming.compaction.changes_per_batch": _median(per_batch2),
            "streaming.compaction.jobs_per_batch": self.jobs2 / float(n2),
        }
        if self.tracer.enabled:
            t = self.tracer
            commits = t.spans_named("streaming.statestore.commit")
            store_commits = [s for s in commits if t.parent_name(s) != SINK_SPAN]
            sink_commits = [s for s in commits if t.parent_name(s) == SINK_SPAN]
            store_reads = [s for s in t.spans_named("streaming.statestore.read") if t.parent_name(s) != SINK_SPAN]
            layers.update(
                {
                    "sinks.bus.publish_ms": _median(t.durations_ms("sinks.bus.publish")),
                    "streaming.statestore.read_ms": sum(t.ms(s) for s in store_reads) / n2,
                    "streaming.statestore.commit_ms": sum(t.ms(s) for s in store_commits) / n2,
                    "streaming.statestore.buckets_rewritten_per_batch": (
                        sum(s["attrs"]["buckets"] for s in store_commits) / float(n2)
                    ),
                    "streaming.statestore.bytes_written_per_change": (
                        sum(s["attrs"]["bytes"] for s in store_commits) / float(n + rows)
                    ),
                    "sinks.jdbc_upsert.upsert_ms": sum(t.durations_ms(SINK_SPAN)) / n2,
                    "sinks.jdbc_upsert.bytes_written_per_batch": (
                        sum(s["attrs"]["bytes"] for s in sink_commits) / float(n2)
                    ),
                    "io.resolve_ms": sum(t.durations_ms("io.resolve")) / n2,
                }
            )
        return {"fresh_ms": fresh, "tail_batches2": tail_batches2, "backfill_s": backfill_s, "layers": layers}

    def _snapshot_through(self, off: dict[str, Any]) -> int:
        """Snapshot rows planned up to a source offset (keys are
        ``0 .. snapshot_rows-1``)."""
        total = int(self.spec["snapshot_rows"])
        if not off or (off.get("phase") == "snapshot" and off.get("table") is None):
            return 0
        if off.get("phase") == "wal" or off.get("key") is None:
            return total
        return int(off["key"][0]) + 1
