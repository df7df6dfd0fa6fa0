"""Expected results, computed outside Spark from the same seeded
inputs the program consumed."""

from __future__ import annotations

from collections import Counter
from typing import Any

from perfbench import feed


def backfill_oracle(spec: dict[str, Any]) -> list[tuple]:
    """The ``cdc_snapshot_tail_handoff`` shape in pure Python: every
    snapshot row, then the tail's updates and deletes applied in LSN
    order, grouped by event type.  Rows are ``(event_type,
    id_checksum, n_live)`` (the sink's columns in name order),
    sorted."""
    types = feed.snapshot_types(spec).tolist()
    live = [True] * len(types)
    event_ids, new_types = feed.tail_arrays(spec)
    for event_id, t in zip(event_ids.tolist(), new_types.tolist()):
        live[event_id] = not feed.is_delete(t)
        types[event_id] = t
    n_live: Counter = Counter()
    checksum: Counter = Counter()
    for event_id, (t, alive) in enumerate(zip(types, live)):
        if alive:
            n_live[feed.EVENT_TYPES[t]] += 1
            checksum[feed.EVENT_TYPES[t]] += event_id
    return sorted((name, checksum[name], n_live[name]) for name in n_live)
