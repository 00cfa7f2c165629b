"""In-memory spans and counters recorded around calls into the engine.

Traced mode wraps public functions of each layer from outside the engine
(module attributes and class methods are replaced for the life of the
process) and reads Spark's status store after the timed phase.  Spans stay
in memory until ``Tracer.dump`` writes them out at the end of a run.

A request id ties together the client's span and every span the server
thread records for the same statement: the client registers the statement
text before sending it, and the server-side wrapper looks the text up.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass
from typing import Dict, List, Optional


@dataclass
class Span:
    rid: int
    name: str
    start: float
    end: float = 0.0
    parent: int = -1


class Tracer:
    def __init__(self) -> None:
        self.spans: List[Span] = []
        self.counts: Dict[int, Dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        self.groups: Dict[int, List[str]] = defaultdict(list)
        self.dataframes: Dict[int, list] = defaultdict(list)
        self._by_text: Dict[str, int] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_rid = 0

    # -- request context ----------------------------------------------------
    def new_request(self, text: Optional[str] = None) -> int:
        with self._lock:
            self._next_rid += 1
            rid = self._next_rid
            if text is not None:
                self._by_text[text] = rid
        return rid

    def rid_for_text(self, text: str) -> Optional[int]:
        with self._lock:
            return self._by_text.pop(text, None)

    @property
    def rid(self) -> Optional[int]:
        return getattr(self._local, "rid", None)

    def bind(self, rid: Optional[int]) -> None:
        self._local.rid = rid
        self._local.stack = []

    # -- spans and counts ---------------------------------------------------
    def begin(self, name: str) -> Optional[int]:
        rid = self.rid
        if rid is None:
            return None
        stack = self._local.stack
        with self._lock:
            self.spans.append(Span(rid, name, time.perf_counter(),
                                   parent=stack[-1] if stack else -1))
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: Optional[int]) -> None:
        if idx is None:
            return
        self.spans[idx].end = time.perf_counter()
        self._local.stack.pop()

    def count(self, key: str, n: float = 1.0) -> None:
        rid = self.rid
        if rid is not None:
            with self._lock:
                self.counts[rid][key] += n

    def in_span(self, name: str) -> bool:
        stack = getattr(self._local, "stack", None)
        return bool(stack) and any(self.spans[i].name == name for i in stack)

    # -- summaries ----------------------------------------------------------
    def self_times(self, rids) -> Dict[str, float]:
        """Total self time per span name over the given requests: each
        span's duration minus the time its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent >= 0 and s.end:
                child[s.parent] += s.end - s.start
        out: Dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s.end and s.rid in rids:
                out[s.name] += (s.end - s.start) - child[i]
        return out

    def inclusive_times(self, rids) -> Dict[str, float]:
        out: Dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.end and s.rid in rids:
                out[s.name] += s.end - s.start
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"rid": s.rid, "name": s.name,
                                    "start": s.start, "end": s.end,
                                    "parent": s.parent}) + "\n")


def _wrap(tracer: Tracer, owner, attr: str, name: str, after=None) -> None:
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        idx = tracer.begin(name)
        try:
            out = orig(*args, **kwargs)
        finally:
            tracer.end(idx)
        if after is not None and idx is not None:
            after(tracer, out, *args, **kwargs)
        return out

    setattr(owner, attr, wrapper)


def _files(path: str) -> Dict[int, int]:
    """inode -> size of every file under a table directory."""
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            try:
                st = os.stat(os.path.join(root, n))
            except OSError:
                continue
            out[st.st_ino] = st.st_size
    return out


def _wrap_table_write(tracer: Tracer, owner, attr: str) -> None:
    """Wrap a method ``(self, table, ...)`` that rewrites a warehouse
    table: count the bytes of the files the call created (inodes that
    were not under the table before it), and the table's parquet files
    and partition directories after it."""
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(wh, table, *args, **kwargs):
        idx = tracer.begin("writes.write")
        if idx is None:
            return orig(wh, table, *args, **kwargs)
        before = _files(wh.path(table))
        try:
            out = orig(wh, table, *args, **kwargs)
        finally:
            tracer.end(idx)
        after = _files(wh.path(table))
        tracer.count("writes.bytes_written", sum(
            size for ino, size in after.items() if ino not in before))
        files, parts = 0, set()
        for root, _, names in os.walk(wh.path(table)):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    parts.add(root)
        tracer.count("writes.files", files)
        tracer.count("writes.partitions", max(len(parts), 1))
        return out

    setattr(owner, attr, wrapper)


def install(tracer: Tracer) -> None:
    """Wrap each layer's entry points.  Idempotent per process is not
    needed: the benchmark installs once, before the first set-up."""
    from pyspark import SparkContext
    from pyspark.sql.conf import RuntimeConfig
    from py4j.clientserver import ClientServerConnection
    from py4j.java_gateway import GatewayConnection

    import yupana_spark.optimizer as opt
    import yupana_spark.sql.analyzer as ana
    import yupana_spark.sql.parser as par
    from yupana_spark.compiler import Tsdb
    from yupana_spark.datapipe.artifacts import ArtifactStore
    from yupana_spark.operators import rollup
    from yupana_spark.operators.writes import Warehouse
    from yupana_spark.server import pgwire

    _wrap(tracer, par, "parse", "sql.parse")
    _wrap(tracer, ana, "analyze", "sql.analyze")
    _wrap(tracer, opt, "optimize", "optimizer.optimize")
    _wrap(tracer, Tsdb, "query", "compiler.build")
    _wrap(tracer, Tsdb, "sql", "engine.sql")
    _wrap(tracer, Warehouse, "upsert", "writes.upsert")
    _wrap(tracer, rollup, "recalculate", "rollup.recalc")

    _wrap_table_write(tracer, Warehouse, "_write")
    _wrap(tracer, rollup, "run_rollup", "rollup.bucket",
          after=lambda tr, *a, **k: tr.count("rollup.buckets"))

    for attr in ("load_arrays", "load_json", "load_df"):
        _wrap(tracer, ArtifactStore, attr, "artifacts.load")
    for attr in ("save_arrays", "save_json", "save_df"):
        _wrap(tracer, ArtifactStore, attr, "artifacts.save",
              after=lambda tr, *a, **k: tr.count("artifacts.fits"))

    # server side: adopt the client's request id for the statement text
    orig_simple = pgwire._Conn._simple_query

    def simple_query(self, body: bytes):
        rid = tracer.rid_for_text(body.rstrip(b"\x00").decode())
        tracer.bind(rid)
        idx = tracer.begin("server.query")
        try:
            return orig_simple(self, body)
        finally:
            tracer.end(idx)
            tracer.bind(None)

    pgwire._Conn._simple_query = simple_query

    def on_rows(tr, _out, _conn, df, *a, **k):
        tr.dataframes[tr.rid].append(df)

    _wrap(tracer, pgwire._Conn, "_send_rows", "server.send_rows",
          after=on_rows)

    # counts: py4j round trips while a statement is being built, and
    # session conf writes anywhere in the request
    for cls in (GatewayConnection, ClientServerConnection):
        orig_send = cls.send_command

        def send_command(self, command, _orig=orig_send):
            if tracer.in_span("engine.sql"):
                tracer.count("compiler.py4j_calls")
            return _orig(self, command)

        cls.send_command = send_command

    orig_set = RuntimeConfig.set

    def conf_set(self, key, value):
        tracer.count("session.conf_sets")
        return orig_set(self, key, value)

    RuntimeConfig.set = conf_set

    # one job group per traced request, so its jobs can be found afterwards
    orig_group = SparkContext.setJobGroup

    def set_job_group(self, group_id, description, interrupt=False):
        rid = tracer.rid
        if rid is not None:
            group_id = f"bench-{rid}-{len(tracer.groups[rid])}"
            tracer.groups[rid].append(group_id)
        return orig_group(self, group_id, description, interrupt)

    SparkContext.setJobGroup = set_job_group


# -- Spark status store readers (after the timed phase) ---------------------
def _opt_ms(opt) -> Optional[float]:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def exec_stats(sc, groups: List[str]) -> Dict[str, float]:
    """Job/stage totals for the jobs of the given job groups."""
    store = sc._jsc.sc().statusStore()
    out = defaultdict(float)
    intervals, job_span = [], [None, None]
    for g in groups:
        for jid in sc.statusTracker().getJobIdsForGroup(g):
            out["jobs"] += 1
            job = store.job(jid)
            js, je = _opt_ms(job.submissionTime()), _opt_ms(
                job.completionTime())
            if js is not None and je is not None:
                job_span[0] = js if job_span[0] is None else min(js, job_span[0])
                job_span[1] = je if job_span[1] is None else max(je, job_span[1])
            for sid in _scala_seq(job.stageIds()):
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stages have none
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["run_s"] += st.executorRunTime() / 1000.0
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += (st.memoryBytesSpilled()
                                       + st.diskBytesSpilled())
                out["peak_mem_bytes"] = max(out["peak_mem_bytes"],
                                            st.peakExecutionMemory())
                s0, s1 = _opt_ms(st.submissionTime()), _opt_ms(
                    st.completionTime())
                if s0 is not None and s1 is not None:
                    intervals.append((s0, s1))
    if job_span[0] is not None:
        out["wall_s"] = job_span[1] - job_span[0]
        busy, cur = 0.0, None
        for a, b in sorted(intervals):
            if cur is None or a > cur[1]:
                if cur is not None:
                    busy += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur is not None:
            busy += cur[1] - cur[0]
        out["stage_gap_s"] = max(out["wall_s"] - busy, 0.0)
    return out


_PY_METRICS = ("data sent to Python workers", "data returned from Python workers")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}


def _size(text: str) -> float:
    """First size in a formatted SQL metric ('total (min, med, max)\\n1.2 MiB
    (...)' or '1.2 MiB')."""
    import re

    m = re.search(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def python_bytes(spark, job_ids: set) -> float:
    """Bytes across the Arrow/pickle Python boundary, from the SQL status
    store's plan metrics of executions that ran any of ``job_ids``."""
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0.0
    execs = store.executionsList()
    for i in range(execs.size()):
        ex = execs.apply(i)
        jobs = {int(j) for j in _scala_keys(ex.jobs())}
        if not jobs & job_ids:
            continue
        ids = [m.accumulatorId() for m in _scala_seq(ex.metrics())
               if m.name() in _PY_METRICS]
        if not ids:
            continue
        values = _scala_dict(store.executionMetrics(ex.executionId()))
        total += sum(_size(values.get(a, "")) for a in ids)
    return total


def _scala_seq(seq):
    return [seq.apply(i) for i in range(seq.size())]


def _scala_dict(m) -> dict:
    it = m.iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[int(kv._1())] = str(kv._2())
    return out


def _scala_keys(m):
    it = m.keys().iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def catalyst_phases(df) -> Dict[str, float]:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            out[name] = opt.get().durationMs() / 1000.0
    return out


def storage_info(sc) -> Dict[str, float]:
    infos = sc._jsc.sc().getRDDStorageInfo()
    return {"cached_rdds": float(len(infos)),
            "mem_bytes": float(sum(i.memSize() for i in infos))}
