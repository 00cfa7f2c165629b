"""Query metrics registry: SHOW QUERIES / KILL QUERY / DELETE QUERIES.

Reference: yupana-core/.../utils/metric/*.scala + model/TsdbQueryMetrics.scala
(persisted per-stage metrics), QueryEngineRouter.scala:64-118 (dispatch).
Spark: an in-memory registry for live queries (and the newest
``MetricsRegistry.FINISHED_KEPT`` finished ones) + a parquet-backed
``MetricsStore`` under the warehouse root so finished metrics survive engine
restarts (the reference persists TsdbQueryMetrics rows to its KV store the
same way); ``cancelJobGroup`` for KILL.
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field
from typing import Dict, List, Optional


@dataclass
class QueryMetric:
    query_id: str
    query: str
    start_ts: float
    state: str = "RUNNING"  # RUNNING | FINISHED | FAILED | CANCELLED
    duration: float = 0.0
    # per-stage seconds (≙ TsdbQueryMetrics.scala:1-95 persisted stage
    # timings: create_queries/filter/reduce...; our engine's stages are
    # parse -> analyze -> compile, with Spark execution happening lazily at
    # the caller's action)
    stages: Dict[str, float] = field(default_factory=dict)


class MetricsRegistry:
    # finished entries kept in memory (the newest ones; each holds its
    # whole statement text): SHOW QUERIES reads older ones from the store
    FINISHED_KEPT = 1000

    def __init__(self):
        self._lock = threading.Lock()
        self._queries: Dict[str, QueryMetric] = {}
        self._finished: OrderedDict = OrderedDict()   # qid, in finish order

    def start(self, query_text: str) -> str:
        qid = uuid.uuid4().hex[:16]
        with self._lock:
            self._queries[qid] = QueryMetric(qid, query_text, time.time())
        return qid

    def stage(self, qid: str, name: str, seconds: float) -> None:
        """Record one pipeline stage's wall time for SHOW QUERIES."""
        with self._lock:
            m = self._queries.get(qid)
            if m is not None:
                m.stages[name] = m.stages.get(name, 0.0) + seconds

    def finish(self, qid: str, state: str = "FINISHED") -> None:
        with self._lock:
            m = self._queries.get(qid)
            if m is not None:
                m.state = state
                m.duration = time.time() - m.start_ts
                self._finished[qid] = None
                self._finished.move_to_end(qid)
                while len(self._finished) > self.FINISHED_KEPT:
                    self._queries.pop(self._finished.popitem(False)[0], None)

    def kill(self, spark, qid: str) -> bool:
        """KILL QUERY WHERE query_id = ... -> cancelJobGroup."""
        spark.sparkContext.cancelJobGroup(f"yupana-{qid}")
        with self._lock:
            m = self._queries.get(qid)
            if m is None:
                return False
            m.state = "CANCELLED"
        return True

    def delete(self, query_id: Optional[str] = None,
               state: Optional[str] = None) -> List[str]:
        with self._lock:
            victims = [
                q for q in self._queries.values()
                if (query_id is None or q.query_id == query_id)
                and (state is None or q.state == state)
                and q.state != "RUNNING"
            ]
            for v in victims:
                del self._queries[v.query_id]
                self._finished.pop(v.query_id, None)
        return [v.query_id for v in victims]

    def get(self, qid: str) -> Optional[QueryMetric]:
        with self._lock:
            return self._queries.get(qid)

    def snapshot(self):
        with self._lock:
            return list(self._queries.values())


REGISTRY = MetricsRegistry()


class MetricsStore:
    """Parquet-backed metric persistence (≙ TsdbQueryMetrics.scala:1-95 +
    providers/QueryInfoProvider): one tiny file per completed query under
    ``<warehouse_root>/__query_metrics``, written driver-side with pyarrow —
    no Spark job on the query hot path (a write job per statement would cost
    more than most statements).  A new Tsdb over the same warehouse root
    reads the history back for SHOW QUERIES."""

    def __init__(self, root: str):
        self.dir = os.path.join(root, "__query_metrics")

    def persist(self, m: QueryMetric) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.dir, exist_ok=True)
        table = pa.table({
            "query_id": [m.query_id],
            "query": [m.query],
            "state": [m.state],
            "start_ts": [m.start_ts],
            "duration": [m.duration],
            "parse_s": [m.stages.get("parse", 0.0)],
            "analyze_s": [m.stages.get("analyze", 0.0)],
            "compile_s": [m.stages.get("compile", 0.0)
                          + m.stages.get("execute", 0.0)],
        })
        pq.write_table(table, os.path.join(self.dir, f"{m.query_id}.parquet"))

    def load(self) -> List[QueryMetric]:
        import pyarrow.parquet as pq

        out: List[QueryMetric] = []
        if not os.path.isdir(self.dir):
            return out
        for name in os.listdir(self.dir):
            if not name.endswith(".parquet"):
                continue
            try:
                d = pq.read_table(os.path.join(self.dir, name)).to_pydict()
            except Exception:  # noqa: BLE001 — concurrent delete/partial file
                continue
            out.append(QueryMetric(
                d["query_id"][0], d["query"][0], d["start_ts"][0],
                state=d["state"][0], duration=d["duration"][0],
                stages={"parse": d["parse_s"][0],
                        "analyze": d["analyze_s"][0],
                        "compile": d["compile_s"][0]}))
        return out

    def delete(self, query_id: Optional[str] = None,
               state: Optional[str] = None) -> List[str]:
        ids: List[str] = []
        for m in self.load():
            if ((query_id is None or m.query_id == query_id)
                    and (state is None or m.state == state)):
                try:
                    os.remove(os.path.join(self.dir, f"{m.query_id}.parquet"))
                    ids.append(m.query_id)
                except OSError:
                    pass
        return ids
