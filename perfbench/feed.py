"""Seeded change feed for the CDC workload, served through the
production ``PostgresCDCStreamReader`` by a replication client that
needs no server.

The source table is ``public.events`` with primary key ``event_id``
(``0 .. snapshot_rows-1``).  The reader snapshots it in keyset chunks,
then tails the slot.  The tail is ``n_changes`` changes to random
events of the snapshot: an update to a new event type, or a delete
when the drawn type is ``error``.

Everything the client serves is a pure function of a small JSON spec,
so the reader can be pickled to the streaming-source worker and to
executors without carrying the feed; each process regenerates the
arrays it needs from the seed.

Open-loop release: the client marks the end of the snapshot phase by
creating ``snapshot_done_path`` at the reader's first peek.  The tail
starts when the benchmark writes the wall-clock time ``t0`` to
``clock_path`` (:func:`write_clock`); until then a peek returns
nothing.  Change ``i`` is due at ``t0 + i / rate``; a peek returns only
changes already due, so the reader sees the arrival process of a table
written at ``rate``, and at most ``n_changes`` changes are ever
released.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Iterator
from typing import Any

import numpy as np

from experiment_flink_cdc_connectors_postgres_datastream_spark.sources.postgres_cdc import (
    RAW_CDC_SCHEMA,
    PostgresCDCConfig,
    PostgresCDCStreamReader,
)

#: event types of the test data's ``events`` table
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
#: first tail LSN: the reader's WAL floor is 1 and peeks are strictly
#: after the confirmed position, so LSNs start above both
LSN_BASE = 2
SCHEMA, TABLE = "public", "events"


def snapshot_types(spec: dict[str, Any]) -> np.ndarray:
    """Event type index of every snapshot row, by ``event_id``."""
    rng = np.random.default_rng([int(spec["seed"]), 2])
    return rng.integers(0, len(EVENT_TYPES), size=int(spec["snapshot_rows"]))


def tail_arrays(spec: dict[str, Any]) -> tuple[np.ndarray, np.ndarray]:
    """``(event_id, new type index)`` of every tail change, by change
    index ``i`` (LSN ``LSN_BASE + i``)."""
    rng = np.random.default_rng([int(spec["seed"]), 1])
    n = int(spec["n_changes"])
    return (
        rng.integers(0, int(spec["snapshot_rows"]), size=n),
        rng.integers(0, len(EVENT_TYPES), size=n),
    )


def is_delete(type_index: int) -> bool:
    return EVENT_TYPES[type_index] == "error"


def user_of(event_id: int) -> int:
    """The owning user of an event (fixed, so every image of a row
    agrees with the snapshot)."""
    return event_id * 7919 % 1500


def _columns(event_id: int, type_index: int) -> list[dict[str, Any]]:
    return [
        {"name": "event_id", "value": event_id},
        {"name": "user_id", "value": user_of(event_id)},
        {"name": "event_type", "value": EVENT_TYPES[type_index]},
    ]


def write_clock(clock_path: str, t0: float) -> None:
    with open(f"{clock_path}.tmp", "w") as fh:
        fh.write(repr(t0))
    os.replace(f"{clock_path}.tmp", clock_path)


def read_clock(clock_path: str) -> float | None:
    try:
        with open(clock_path) as fh:
            return float(fh.read())
    except (OSError, ValueError):
        return None


class FeedClient:
    """Replication-client surface over the seeded feed.  Slot and
    progress state live in memory: a benchmark run never restarts a
    query."""

    def __init__(self, spec: dict[str, Any]):
        self.spec = spec
        self.confirmed = 0
        self.progress: str | None = None
        self._slot = False
        self._snap: np.ndarray | None = None
        self._tail: tuple[np.ndarray, np.ndarray] | None = None
        self._t0: float | None = None
        self._peeked = False

    def __getstate__(self) -> dict[str, Any]:
        # the feed arrays are regenerated from the seed where needed
        state = dict(self.__dict__)
        state["_snap"] = None
        state["_tail"] = None
        return state

    # -- slot / progress ------------------------------------------------
    def ensure_slot(self) -> bool:
        created = not self._slot
        self._slot = True
        return created

    def slot_confirmed_lsn(self) -> int:
        return self.confirmed

    def advance_slot(self, lsn_int: int) -> None:
        self.confirmed = max(self.confirmed, int(lsn_int))

    def save_snapshot_progress(self, pos_json: str) -> None:
        self.progress = pos_json

    def load_snapshot_progress(self) -> tuple | None:
        if self.progress is None:
            return None
        t, key = json.loads(self.progress)
        return (t, key)

    def clear_snapshot_progress(self) -> None:
        self.progress = None

    # -- snapshot --------------------------------------------------------
    def list_tables(self) -> list[tuple[str, str]]:
        return [(SCHEMA, TABLE)]

    def primary_key(self, schema: str, table: str) -> list[str]:
        return ["event_id"]

    def chunk_bound(
        self, schema: str, table: str, pk_cols: list[str], lower: list | None, chunk_size: int
    ) -> list | None:
        bound = (0 if lower is None else int(lower[0]) + 1) + int(chunk_size) - 1
        return [bound] if bound < int(self.spec["snapshot_rows"]) else None

    def snapshot_range(
        self, schema: str, table: str, pk_cols: list[str], lower: list | None, upper: list | None
    ) -> Iterator[dict[str, Any]]:
        if self._snap is None:
            self._snap = snapshot_types(self.spec)
        n = int(self.spec["snapshot_rows"])
        lo = 0 if lower is None else int(lower[0]) + 1
        hi = n if upper is None else min(n, int(upper[0]) + 1)
        for event_id in range(lo, hi):
            yield {c["name"]: c["value"] for c in _columns(event_id, int(self._snap[event_id]))}

    # -- WAL tail ------------------------------------------------------
    def peek_changes(self, limit: int) -> list[dict[str, Any]]:
        """wal2json records strictly after the confirmed LSN, at most
        ``limit``, and only those already due."""
        if not self._peeked:
            # the first peek is the end of the snapshot phase
            self._peeked = True
            open(self.spec["snapshot_done_path"], "a").close()
        if self._t0 is None:
            self._t0 = read_clock(self.spec["clock_path"])
            if self._t0 is None:
                return []
        if self._tail is None:
            self._tail = tail_arrays(self.spec)
        rate = float(self.spec["rate"])
        due = min(int(self.spec["n_changes"]), int((time.time() - self._t0) * rate) + 1)
        lo = max(0, self.confirmed - LSN_BASE + 1)
        hi = min(due, lo + max(int(limit), 0))
        event_ids, types = self._tail
        out = []
        for i in range(lo, hi):
            event_id, t = int(event_ids[i]), int(types[i])
            rec: dict[str, Any] = {
                "action": "D" if is_delete(t) else "U",
                "schema": SCHEMA,
                "table": TABLE,
                "timestamp_ms": int(round((self._t0 + i / rate) * 1000.0)),
                "lsn_int": LSN_BASE + i,
                "xid": i,
                # the old image carries the key, which is all a
                # consumer reads from it
                "identity": _columns(event_id, t),
            }
            if not is_delete(t):
                rec["columns"] = _columns(event_id, t)
            out.append(rec)
        return out


def feed_config(spec: dict[str, Any]) -> PostgresCDCConfig:
    return PostgresCDCConfig(
        database="perfbench",
        snapshot_chunk_size=int(spec["snapshot_chunk_size"]),
        snapshot_chunks_per_trigger=int(spec["snapshot_chunks_per_trigger"]),
    )


try:
    from pyspark.sql.datasource import DataSource
except ImportError:  # pragma: no cover - pyspark < 4
    DataSource = None

if DataSource is not None:

    class FeedDataSource(DataSource):
        """``spark.readStream.format("perfbench_feed").option("spec", json)``:
        the production CDC reader over :class:`FeedClient`."""

        @classmethod
        def name(cls) -> str:
            return "perfbench_feed"

        def schema(self):
            return RAW_CDC_SCHEMA

        def streamReader(self, schema) -> PostgresCDCStreamReader:
            spec = json.loads(dict(self.options)["spec"])
            return PostgresCDCStreamReader(feed_config(spec), client=FeedClient(spec))

    def register(spark) -> None:
        spark.dataSource.register(FeedDataSource)
