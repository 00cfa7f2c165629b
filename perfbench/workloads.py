"""The workloads: set-up, a timed phase in rounds, untimed checks.

Each workload function takes a ``Run`` (paths, seed, duration, tracer) and
returns a ``Result``: per-operation records plus the set-up times.  The
timed phase drives the engine the way its users do, through pgwire
clients.  Traced ``olap_pgwire`` runs end with a datapipe leg: in-process
bundle calls, as a corpus pipeline makes them.
"""

from __future__ import annotations

import datetime as dt
import gc
import os
import threading
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

import numpy as np

from . import datagen, templates
from .pgclient import PgClient

_BEGIN = time.perf_counter()
SETUPS = 3               # one cold set-up, then warm restarts
BATCH_ROWS = 200         # rows per UPSERT batch
OVERWRITE_SHARE = 0.2    # share of a batch that rewrites existing keys
INGEST_SF = 0.02
READS_PER_TURN = 6       # the ingest reader's SELECTs per round
PHRASE_POOL = 2          # inverted-index phrases a run draws from
PIPE_DOCS = 300          # documents in the datapipe leg's corpus
PIPE_BUNDLE = "dp_neardup_scale"
PIPE_PASSES = 3          # warm passes after the first call


@dataclass
class Op:
    kind: str
    latency_s: float
    ok: bool = True
    traced: bool = False
    error: Optional[str] = None
    ttfr_s: float = 0.0
    deliver_s: float = 0.0
    rows: int = 0
    nbytes: int = 0
    work: float = 1.0            # throughput units this op completed
    rid: Optional[int] = None    # trace request id, when traced
    client: int = -1             # index of the client; -1 when untimed
    user_bytes: int = 0          # statement bytes a write carried
    check: Optional[Callable[[], Optional[str]]] = None


@dataclass
class Run:
    root: str
    seed: int
    seconds: float
    tracer: object = None        # trace.Tracer when traced
    t0: float = field(default_factory=time.perf_counter)
    deadline: float = float("inf")   # end of the timed phase, once begun
    marks: Dict[str, float] = field(default_factory=dict)

    def mark(self, phase: str) -> None:
        """Record when a phase ended, in seconds since this module was
        imported (reported on the summary line, to show where a run's time
        goes)."""
        self.marks[phase] = round(time.perf_counter() - _BEGIN, 1)


@dataclass
class Result:
    ops: List[Op]
    setup_s: List[float]         # the cold set-up, then the warm restarts
    main_kind: str
    engine: object = None
    leg: Optional[Callable[[], List[Op]]] = None   # traced runs only


# -- engine lifecycle --------------------------------------------------------
class Engine:
    """A Spark session, a Tsdb over the generated tables and a pgwire
    server on an ephemeral port."""

    def __init__(self, data_dir: str, warehouse_root: Optional[str] = None):
        from yupana_spark import Tsdb, default_schema
        from yupana_spark.server.pgwire import PgWireServer
        from yupana_spark.session import get_spark

        self.spark = get_spark("yupana-perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tsdb = Tsdb(self.spark, default_schema(), data_dir,
                         warehouse_root=warehouse_root)
        self.server = PgWireServer(self.tsdb, port=0)
        self.port = self.server.start()

    def stop(self) -> None:
        self.server.stop()
        self.spark.stop()


def _setups(run: Run, start: Callable[[int], Engine]) -> tuple:
    """SETUPS set-ups, each from a stopped Spark context to the first
    request answered.  The first is cold: it also pays the imports and the
    JVM launch, and is timed from the run's start.  The others restart the
    engine in the running JVM; stopping the previous engine and collecting
    garbage happen before their clock starts.  Returns (engine, times)."""
    times, eng = [], None
    for i in range(SETUPS):
        if eng is not None:
            jvm = eng.spark._jvm
            eng.stop()
            gc.collect()
            jvm.System.gc()
        t = run.t0 if i == 0 else time.perf_counter()
        if run.tracer is not None:
            run.tracer.bind(run.tracer.new_request())
        try:
            eng = start(i)
        finally:
            if run.tracer is not None:
                run.tracer.bind(None)
        times.append(time.perf_counter() - t)
        run.mark(f"setup{i}")
    return eng, times


def _rounds(run: Run, steps: List[Callable[[], List[Op]]],
            warmups: Optional[List[Callable[[], List[Op]]]] = None,
            serial: bool = False) -> List[Op]:
    """The timed phase, in rounds.  In each round every client runs its
    step once: side by side, each on its own thread, or with ``serial``
    one after another, in order, on this thread.  A round begins only
    before the deadline and, once begun, completes, so every run times
    whole rounds.  Before the first round each client runs its warm-up
    (untimed; its ops are still checked).  Returns the ops; timed ops
    carry their client's index."""
    ops: List[Op] = []
    lock = threading.Lock()
    go = {}

    def between_rounds():
        now = time.perf_counter()
        if run.deadline == float("inf"):
            run.deadline = now + run.seconds
            run.mark("warmup")
        go["next"] = now < run.deadline

    def add(done, i=-1):
        for op in done:
            op.client = i
        with lock:
            ops.extend(done)

    if serial:
        for w in warmups or []:
            add(w())
        between_rounds()
        while go["next"]:
            for i, step in enumerate(steps):
                add(step(), i)
            between_rounds()
        run.mark("timed")
        return ops

    barrier = threading.Barrier(len(steps), action=between_rounds)
    errors: List[BaseException] = []

    def loop(i, step):
        try:
            if warmups:
                add(warmups[i]())
            while True:
                barrier.wait()
                if not go["next"]:
                    return
                add(step(), i)
        except BaseException as exc:  # noqa: BLE001 - reported after join
            errors.append(exc)
            barrier.abort()

    threads = [threading.Thread(target=loop, args=(i, s), daemon=True)
               for i, s in enumerate(steps)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    run.mark("timed")
    return ops


def _wire_op(client: PgClient, kind: str, sql: str, traced: bool,
             run: Run) -> tuple:
    rid = run.tracer.new_request(sql) if traced else None
    r = client.query(sql)
    op = Op(kind, r.latency_s, ok=r.error is None, traced=traced,
            error=r.error, rows=len(r.rows), nbytes=r.nbytes, rid=rid)
    if r.first_row_at is not None:
        op.ttfr_s = r.first_row_at - r.sent_at
        op.deliver_s = r.last_row_at - r.first_row_at
    return op, r


class _InProcess:
    """Binds a trace request and a job group around an in-process call."""

    def __init__(self, run: Run, spark, traced: bool):
        self.run, self.spark, self.traced = run, spark, traced
        self.rid = None

    def __enter__(self):
        if self.traced:
            self.rid = self.run.tracer.new_request()
            self.run.tracer.bind(self.rid)
            self.spark.sparkContext.setJobGroup("perfbench", "traced call")
        return self

    def __exit__(self, *exc):
        if self.traced:
            self.run.tracer.bind(None)
            self.spark.sparkContext.setJobGroup("perfbench-untraced", "")
        return False


# -- result checks -----------------------------------------------------------
def _render(v) -> Optional[str]:
    """A DuckDB value in the pgwire server's text format."""
    import decimal

    if v is None:
        return None
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f").rstrip("0").rstrip(".")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    return str(v)


def _num(v):
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def _key(row):
    return tuple((0, "") if v is None else
                 (1, f"{_num(v):.6g}") if _num(v) is not None else (2, v)
                 for v in row)


def same_rows(got: List[tuple], want: List[tuple]) -> Optional[str]:
    """None when the two row multisets match (floats to 1e-9 relative)."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for a, b in zip(sorted(got, key=_key), sorted(want, key=_key)):
        if len(a) != len(b):
            return f"row width {len(a)} != {len(b)}"
        for x, y in zip(a, b):
            if x == y:
                continue
            fx, fy = _num(x), _num(y)
            if fx is None or fy is None or abs(fx - fy) > 1e-9 * max(
                    abs(fx), abs(fy), 1.0):
                return f"row {a} != {b}"
    return None


def _duck(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data_dir}/{t}.parquet'")
    return con


def _duck_check(con, sql: str, rows: List[tuple]):
    def check():
        want = [tuple(_render(v) for v in r) for r in con.sql(sql).fetchall()]
        return same_rows(rows, want)
    return check


# -- olap_pgwire ---------------------------------------------------------------
def olap_pgwire(run: Run) -> Result:
    data = os.path.join(run.root, "data")
    datagen.generate(data, run.seed, sf=0.1)
    run.t0 = time.perf_counter()
    rng = np.random.default_rng(run.seed)

    def start(i):
        eng = Engine(data)
        c = PgClient(eng.port)
        r = c.query(templates.ev_day_rollup(rng)[0])
        c.close()
        if r.error:
            raise RuntimeError(f"set-up query failed: {r.error}")
        return eng

    eng, setup = _setups(run, start)
    con = _duck(data)

    # A seeded popularity order of the phrases.  The PHRASE_POOL most
    # popular are asked during warm-up (phrase-memo misses, untimed and
    # reported per layer), and timed statements draw with Zipf weights
    # over them, so every timed inverted-index statement is a memo hit:
    # a miss costs about five plain statements, and a run's one or two
    # inverted-index draws would set its throughput by how many missed.
    popular = [templates.PHRASES[i] for i in
               rng.permutation(len(templates.PHRASES))][:PHRASE_POOL]
    traced = run.tracer is not None

    def client(k):
        cmix = templates.Mix(np.random.default_rng([run.seed, k]),
                             phrases=popular)
        # warm-up: the clients split one pass over the templates, and the
        # popular phrases
        warm = [("inverted_index", p) for p in popular[k::2]] + [
            (t, None) for t in sorted(templates.TEMPLATES)[k::2]
            if t != "inverted_index"]
        c = PgClient(eng.port)

        def statement(name, phrase, traced):
            name, yql, duck = cmix.draw(name, phrase)
            op, r = _wire_op(c, "phrase_miss" if phrase else "select", yql,
                             traced, run)
            if op.ok:
                op.check = _duck_check(con, duck, r.rows)
            return op

        def warmup():
            return [statement(name, phrase, False) for name, phrase in warm]

        def cycle():
            """One whole cycle over the templates, so every run times each
            template equally often; traced runs trace every second
            statement."""
            return [statement(None, None, traced and j % 2 == 0)
                    for j in range(len(templates.TEMPLATES))]
        return c, cycle, warmup

    conns = [client(k) for k in range(2)]
    try:
        ops = _rounds(run, [cy for _, cy, _ in conns],
                      [w for _, _, w in conns])
    finally:
        for c, _, _ in conns:
            c.close()
    res = Result(ops, setup, "select", engine=eng)
    if run.tracer is not None:
        res.leg = lambda: pipeline_leg(run, eng.spark)
    return res


# -- ingest_mixed --------------------------------------------------------------
def _events_by_day():
    from yupana_spark import E
    from yupana_spark import types as yt
    from yupana_spark.operators.rollup import Rollup

    return Rollup(
        name="events_by_day", from_table="events", to_table="events_by_day",
        time_trunc="day", group_by=("event_type",),
        aggregates=(
            (E.sum_(E.Cast(E.Field("value", yt.DOUBLE), yt.decimal(18, 4))),
             "value_sum"),
            (E.count(E.Field("event_id", yt.LONG)), "n"),
        ))


class _Writer:
    """Seeded UPSERT batches over the events table and the client-side
    model of every key's last written row, for read-your-writes checks."""

    def __init__(self, data_dir: str, seed: int):
        import pyarrow.parquet as pq

        self.rng = np.random.default_rng([seed, 99])
        base = pq.read_table(os.path.join(data_dir, "events.parquet"),
                             columns=["ts", "user_id", "event_type",
                                      "event_id", "value"]).to_pandas()
        self.base = dict(iter(base.groupby(base["ts"].dt.date)))
        # key (ts, user_id, event_type) -> (event_id, value), per day,
        # built from the base table the first time a day is written
        self.days: Dict[dt.date, dict] = {}
        self.next_id = 10_000_000
        self.n_types = len(datagen.EVENT_TYPES)
        self.batches = 0

    def batch(self):
        """(day, UPSERT statement) for the next batch; the model is
        updated as if the write succeeded."""
        rng = self.rng
        day = dt.date(2024, 1, 1) + dt.timedelta(days=int(rng.integers(0, 30)))
        if day not in self.days:
            self.days[day] = {
                (ts.to_pydatetime(), u, et): (eid, v)
                for ts, u, et, eid, v in self.base[day].itertuples(
                    index=False)}
        keys = self.days[day]
        n_over = int(BATCH_ROWS * OVERWRITE_SHARE)
        existing = list(keys)
        picks = [existing[i] for i in rng.choice(len(existing), n_over,
                                                 replace=False)]
        self.batches += 1
        if self.batches % 4 == 0:     # grow the event_type dictionary
            self.n_types += 1
        types = datagen.EVENT_TYPES + [f"kind{i}" for i in range(
            len(datagen.EVENT_TYPES), self.n_types)]
        fresh = []
        base = dt.datetime.combine(day, dt.time())
        while len(fresh) < BATCH_ROWS - n_over:
            ts = base + dt.timedelta(microseconds=int(rng.integers(
                0, 86_400_000_000)))
            k = (ts, int(rng.integers(0, 1500)),
                 types[int(rng.integers(0, len(types)))])
            if k not in keys:
                fresh.append(k)
        vals = []
        for ts, u, et in picks + fresh:
            eid, v = self.next_id, round(float(rng.uniform(0, 500)), 2)
            self.next_id += 1
            keys[(ts, u, et)] = (eid, v)
            vals.append(f"(TIMESTAMP '{ts.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
                        f", {eid}, {u}, '{et}', {v})")
        sql = ("UPSERT INTO events (time, event_id, user_id, event_type, "
               "value) VALUES " + ", ".join(vals))
        return day, sql

    @staticmethod
    def day_sql(day: dt.date) -> str:
        a = dt.datetime.combine(day, dt.time())
        b = a + dt.timedelta(days=1)
        return (f"SELECT event_id, user_id, event_type, value FROM events "
                f"WHERE time >= TIMESTAMP '{a}' AND time < TIMESTAMP '{b}'")

    def readback(self, day: dt.date):
        """(SELECT of one day, its rows under the model)."""
        sql = self.day_sql(day)
        want = [(str(eid), str(u), et, repr(float(v)))
                for (ts, u, et), (eid, v) in self.days[day].items()]
        return sql, want


def ingest_mixed(run: Run) -> Result:
    from yupana_spark.operators.rollup import recalculate

    data = os.path.join(run.root, "data")
    datagen.generate(data, run.seed, sf=INGEST_SF)
    run.t0 = time.perf_counter()
    rollup = _events_by_day()
    state = {}

    wh = os.path.join(run.root, "warehouse")
    writer = _Writer(data, run.seed)

    def start(i):
        """Each set-up opens the warehouse and answers a read-back."""
        eng = Engine(data, warehouse_root=wh)
        c = PgClient(eng.port)
        r = c.query(writer.day_sql(dt.date(2024, 1, 1 + i)))
        c.close()
        if r.error:
            raise RuntimeError(f"set-up read-back failed: {r.error}")
        return eng

    eng, setup = _setups(run, start)
    wc, rc = PgClient(eng.port), PgClient(eng.port)
    # Priming, untimed: one UPSERT into the fresh warehouse, its checked
    # read-back, and the full rollup build.  It is also the writer's
    # warm-up: the first UPSERT of a process pays most of the write
    # path's one-time costs.
    day, sql = writer.batch()
    prime = _wire_op(wc, "upsert", sql, False, run)[0]
    prime.work = 0.0
    rsql, want = writer.readback(day)
    rop, r = _wire_op(wc, "readback", rsql, False, run)
    rop.work = 0.0
    if rop.ok:
        rop.check = lambda rows=r.rows: same_rows(rows, want)
    recalculate(eng.tsdb.warehouse, rollup)
    state["recalc_at"] = dt.datetime.utcnow()
    run.mark("prime")
    rmix = templates.Mix(np.random.default_rng([run.seed, 7]),
                         templates.EVENT_TEMPLATES)
    traced = run.tracer is not None

    def reads(n, trace):
        """``n`` reader SELECTs; traced runs trace every second one."""
        ops = []
        for j in range(n):
            op, _ = _wire_op(rc, "select", rmix.draw()[1],
                             trace and j % 2 == 0, run)
            op.work = 0.0
            ops.append(op)
        return ops

    def write():
        day, sql = writer.batch()
        op, _ = _wire_op(wc, "upsert", sql, traced, run)
        op.work, op.user_bytes = BATCH_ROWS, len(sql.encode())
        if not op.ok:
            return [op]
        rsql, want = writer.readback(day)
        rop, r = _wire_op(wc, "readback", rsql, traced, run)
        rop.work = 0.0
        if rop.ok:
            rop.check = lambda rows=r.rows, want=want: same_rows(rows, want)
        # an incremental recalc after every batch, so every step does the
        # same work and the rollup is current when the timed phase ends
        since, state["recalc_at"] = state["recalc_at"], dt.datetime.utcnow()
        with _InProcess(run, eng.spark, traced) as call:
            t = time.perf_counter()
            try:
                recalculate(eng.tsdb.warehouse, rollup, since=since)
                err = None
            except Exception as exc:  # noqa: BLE001 - a failed op
                err = repr(exc)
        return [op, rop, Op("recalc", time.perf_counter() - t,
                            ok=err is None, traced=traced, error=err,
                            rid=call.rid, work=0.0)]

    # The reader and the writer take turns, the reader first: a SELECT
    # racing an UPSERT's directory swap fails, and one overlapping the
    # writer's read-back or recalc would time their contention for the
    # cores.  The reader warms up with two turns' worth of SELECTs.
    try:
        ops = _rounds(run, [lambda: reads(READS_PER_TURN, traced), write],
                      [lambda: reads(2 * READS_PER_TURN, False)],
                      serial=True)
    finally:
        wc.close()
        rc.close()
    # rollup totals after the last incremental recalc must equal a direct
    # aggregate over the live table
    ops += [prime, rop]
    ops.append(Op("rollup_check", 0.0, work=0.0,
                  check=lambda: _rollup_check(eng, rollup)))
    return Result(ops, setup, "select", engine=eng)


def _rollup_check(eng: Engine, rollup) -> Optional[str]:
    from pyspark.sql import functions as F

    wh = eng.tsdb.warehouse
    got = [(str(r[0]), r[1], float(r[2]), int(r[3])) for r in
           wh.read(rollup.to_table).select(
               "time", "event_type", F.col("value_sum").cast("double"), "n")
           .collect()]
    import duckdb

    want = duckdb.sql(
        f"SELECT CAST(date_trunc('day', time) AS TIMESTAMP)::VARCHAR, "
        f"event_type, CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), "
        f"count(event_id) FROM read_parquet('{wh.path('events')}/**/*.parquet'"
        f", hive_partitioning = false) GROUP BY ALL").fetchall()
    got = [(t.replace("T", " "), e, v, n) for t, e, v, n in got]
    want = [(str(t), e, float(v), int(n)) for t, e, v, n in want]
    return same_rows([tuple(map(str, r)) for r in got],
                     [tuple(map(str, r)) for r in want])


# -- datapipe leg -----------------------------------------------------------
def pipeline_leg(run: Run, spark) -> List[Op]:
    """A corpus pipeline's calls, after the timed phase of a traced run:
    ``PIPE_BUNDLE`` from ``__spark_entry__.queries()`` over a generated
    corpus into a noop sink, first with a fresh artifact store (the call
    fits the artifacts), then ``PIPE_PASSES`` warm passes.  Every output
    is checked against the bundle's DuckDB ``oracle_sql()`` entry."""
    import __spark_entry__ as ent

    data = os.path.join(run.root, "corpus")
    datagen.generate(data, run.seed, sf=0.01, n_docs=PIPE_DOCS)
    bundle = ent.queries()[PIPE_BUNDLE]
    state, ops = {}, []
    for i in range(1 + PIPE_PASSES):
        with _InProcess(run, spark, True) as call:
            t = time.perf_counter()
            df = bundle(spark, data)
            df.write.format("noop").mode("overwrite").save()
            dur = time.perf_counter() - t
        pdf = df.toPandas()
        op = Op("pipe_first" if i == 0 else "pipe", dur, traced=True,
                rows=len(pdf), rid=call.rid, work=0.0)
        op.check = lambda pdf=pdf: _oracle_check(state, data, PIPE_BUNDLE,
                                                 pdf)
        ops.append(op)
    run.mark("leg")
    return ops


def _oracle_check(state: dict, data: str, name: str, pdf) -> Optional[str]:
    import hashlib

    def canon(df):
        df = df.copy()
        df.columns = [c.lower() for c in df.columns]
        df = df.reindex(sorted(df.columns), axis=1)
        if len(df.columns):
            df = df.sort_values(by=list(df.columns), kind="mergesort")
        return hashlib.md5(df.reset_index(drop=True).astype(str)
                           .to_csv(index=False).encode()).hexdigest()

    key = ("oracle", name)
    if key not in state:
        import __spark_entry__ as ent

        con = state.setdefault("duck", _duck(data))
        state[key] = canon(con.sql(ent.oracle_sql()[name]).df())
    got = canon(pdf)
    return None if got == state[key] else f"{name}: hash {got} != oracle"


WORKLOADS = {"olap_pgwire": olap_pgwire, "ingest_mixed": ingest_mixed}
