"""Shared state-horizon plumbing for the stateful streaming operators.

The stateful operators (near-dup buckets, corpus-filter fingerprints,
per-domain caps, running totals) bound their state by a horizon under
one of two eviction clocks — wall time (ProcessingTimeTimeout) and data
time (EventTimeTimeout keyed to the watermark).  The clock selection and
the per-group timeout arming live HERE so the operators can never drift
apart.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def timeout_mode(idle_timeout_ms: Optional[int],
                 event_time_col: Optional[str]):
    """The GroupStateTimeout for the (horizon, clock) combination; also
    validates that an event-time clock comes with a horizon length."""
    if event_time_col is not None and idle_timeout_ms is None:
        raise ValueError("event_time_col needs idle_timeout_ms "
                         "(the horizon length)")
    if idle_timeout_ms is None:
        return GroupStateTimeout.NoTimeout
    if event_time_col is not None:
        return GroupStateTimeout.EventTimeTimeout
    return GroupStateTimeout.ProcessingTimeTimeout


def event_ms(values) -> Optional[int]:
    """Max event time of a pandas timestamp series, in epoch ms (None for
    an empty series)."""
    if len(values) == 0:
        return None
    return int(pd.Timestamp(values.max()).value // 1_000_000)


def arm_timeout(state: GroupState, idle_timeout_ms: Optional[int],
                event_time_col: Optional[str],
                max_event_ms: Optional[int]) -> None:
    """Arm the group's eviction timer under the chosen clock.

    Event-time: eviction fires when the WATERMARK (a function of the
    data) passes last-member-ts + horizon — replaying the same corpus at
    any wall-clock speed with the same batch boundaries evicts
    identically.  Processing-time: a group idle for the horizon evicts,
    wall-clock dependent (documented trade)."""
    if idle_timeout_ms is None:
        return
    if event_time_col is not None:
        if max_event_ms is not None:
            ts = max_event_ms + idle_timeout_ms
            # a batch holding only LATE rows (watermark delay > horizon)
            # can put last-member-ts + horizon at or below the current
            # watermark — Spark rejects such a timestamp with an
            # IllegalArgumentException that fails the whole micro-batch.
            # Clamp to just past the watermark: the group then times out
            # at the next watermark advance, which is the earliest legal
            # reading of "this member was already expired on arrival".
            wm = state.getCurrentWatermarkMs()
            if ts <= wm:
                ts = wm + 1
            state.setTimeoutTimestamp(ts)
    else:
        state.setTimeoutDuration(idle_timeout_ms)
