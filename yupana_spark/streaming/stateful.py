"""Custom stateful streaming operator via applyInPandasWithState.

The reference has no stateful streaming at all (SURVEY.md §2.9); this is the
Spark-native extension point for operators session_window can't express —
arbitrary per-key state with timeouts.  Example operator: running per-key
totals with inactivity expiry (emits a final snapshot when a key goes quiet).

State is a per-key tuple (count, sum); each micro-batch updates it from
the Arrow-batched rows; a processing-time timeout (armed through
``horizon`` like the other stateful operators) flushes idle keys.  At
scale this is one shuffle on the key (state is partition-local
afterwards) — the same layout Flink keyed state or Spark's own
streaming-aggregation state store uses.
"""

from __future__ import annotations

from typing import Any, Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from .horizon import arm_timeout, timeout_mode

OUTPUT_SCHEMA = T.StructType([
    T.StructField("key", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("total", T.DoubleType()),
    T.StructField("closed", T.BooleanType()),
])

STATE_SCHEMA = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("total", T.DoubleType()),
])


def _make_update(idle_timeout_ms: Optional[int]):
    def _update(key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame],
                state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            n, total = state.get
            state.remove()
            yield pd.DataFrame({"key": [key[0]], "n_events": [n],
                                "total": [total], "closed": [True]})
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        arm_timeout(state, idle_timeout_ms, None, None)  # inactivity closes
        yield pd.DataFrame({"key": [key[0]], "n_events": [n],
                            "total": [total], "closed": [False]})

    return _update


def running_totals(stream: DataFrame, key_col: str = "user_id",
                   value_col: str = "value",
                   idle_timeout_ms: Optional[int] = 30_000) -> DataFrame:
    """Per-key running (count, sum), with optional inactivity expiry.

    Works on a streaming DataFrame with columns (key_col, value_col).
    A key idle for ``idle_timeout_ms`` of processing time emits a final
    ``closed`` snapshot and drops its state.  ``None`` runs with
    NoTimeout — required under an availableNow trigger, where
    ProcessingTimeTimeout keeps the query alive scheduling empty
    micro-batches until wall-clock expiry (observed: the query never
    terminates); an always-on pipeline keeps a horizon.
    """
    from pyspark.sql import functions as F

    src = stream.select(F.col(key_col).alias("key"),
                        F.col(value_col).alias("value"))
    return (src.groupBy("key")
            .applyInPandasWithState(
                _make_update(idle_timeout_ms), OUTPUT_SCHEMA, STATE_SCHEMA,
                "update", timeout_mode(idle_timeout_ms, None)))
