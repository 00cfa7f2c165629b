"""Volume-gated execution posture (session.posture).

Every query frame is rooted in a posture session: a memoized clone of the
shared session carrying AQE on/off, the reduce-partition count and
parallelismFirst.  The shared session's conf is never flipped, so a frame
executes under the posture its own gate chose whatever was built or run
in between (r18: the FULL posture floors AQE's partition coalescing at
the core count — parallelismFirst=true — because narrow-row exchanges
under-price their downstream per-row compute; the SMALL-input posture
keeps the latency-first static sizing with AQE off).
"""

import datetime as dt
import threading

from conftest import SF_SMALL as SF
from yupana_spark import E, Tsdb, default_schema, query
from yupana_spark.session import SMALL_INPUT_BYTES, posture

_AQE = "spark.sql.adaptive.enabled"
_PF = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
_PARTS = "spark.sql.shuffle.partitions"
_RULES = "spark.sql.optimizer.excludedRules"
_GATED = (_AQE, _PF, _PARTS, _RULES)


def _parent_confs(spark):
    return {k: spark.conf.get(k, None) for k in _GATED}


def test_full_posture_floors_coalescing_at_cores(spark):
    """Big-input queries and compute-bound work (nbytes=None) both run the
    full posture; only query frames exclude RemoveRedundantAggregates."""
    before = _parent_confs(spark)
    full, compute = posture(spark, 1 << 62), posture(spark)
    cpus = spark.sparkContext.defaultParallelism
    for s in (full, compute):
        assert s is not spark
        assert s.conf.get(_AQE) == "true"
        assert s.conf.get(_PF) == "true"
        assert s.conf.get(_PARTS) == str(max(cpus // 2, 8))
    assert "RemoveRedundantAggregates" in full.conf.get(_RULES)
    assert compute.conf.get(_RULES, None) == before[_RULES]
    # a posture session's own posture is itself, never a clone of a clone
    assert posture(full, 1 << 62) is full and posture(compute) is compute
    assert _parent_confs(spark) == before


def test_small_posture_static_sizing(spark):
    before = _parent_confs(spark)
    small = posture(spark, SMALL_INPUT_BYTES - 1)
    assert small.conf.get(_AQE) == "false"
    # set explicitly, not inherited from whichever posture ran last
    # (a sticky full-posture parallelismFirst, ADVICE r18 #3)
    assert small.conf.get(_PF) == "false"
    parts = int(small.conf.get(_PARTS))
    assert 4 <= parts <= spark.sparkContext.defaultParallelism
    assert "RemoveRedundantAggregates" in small.conf.get(_RULES)
    assert posture(spark, 1024) is posture(spark, 2048)
    assert _parent_confs(spark) == before


def _small_frame(tsdb, day: int):
    """A grouped lineitem query (it has a shuffle, so AQE would wrap it)
    with a fresh literal, so no memo hands back an older frame."""
    return tsdb.query(query(
        "lineitem", dt.datetime(1995, 1, day), dt.datetime(2002, 1, 1),
        fields=[(E.Field("l_returnflag"), "flag"),
                (E.count(E.Field("l_orderkey")), "n")],
        group_by=[E.Field("l_returnflag")]))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parent_conf_unchanged_by_queries(spark, tsdb):
    import __spark_entry__ as ent

    before = _parent_confs(spark)
    assert _small_frame(tsdb, 2).count() > 0
    ent.queries()["dp_sample"](spark, SF).count()
    assert _parent_confs(spark) == before


def test_posture_is_order_independent(spark, tsdb):
    """A small-input frame built BEFORE a full-posture entry still plans
    without AQE: the entry cannot change the posture the frame runs on."""
    import __spark_entry__ as ent

    small = _small_frame(tsdb, 3)
    full = ent.queries()["dp_sample"](spark, SF)
    assert full.sparkSession.conf.get(_AQE) == "true"
    assert "AdaptiveSparkPlan" not in _plan(small)
    # the full posture's own frames do run adaptive
    assert "AdaptiveSparkPlan" in _plan(ent._docs(spark, SF).groupBy(
        "doc_id").count())

    # the same with the two builds racing in two threads
    out, errs = {}, []

    def run(name, build):
        try:
            out[name] = build()
        except Exception as e:  # noqa: BLE001 — re-raised below
            errs.append(e)

    threads = [threading.Thread(target=run, args=(
                   "small", lambda: _small_frame(tsdb, 4))),
               threading.Thread(target=run, args=(
                   "full", lambda: ent.queries()["dp_sample"](spark, SF)))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert "AdaptiveSparkPlan" not in _plan(out["small"])
    assert out["full"].sparkSession.conf.get(_AQE) == "true"


def test_engine_confs_per_session(spark):
    """A second session handed to the engine gets the engine confs too
    (they used to be applied once per application, so a second session
    silently computed with Spark's defaults)."""
    other = spark.newSession()
    other.conf.unset("spark.sql.ansi.enabled")       # Spark's default
    assert other.conf.get("spark.sql.ansi.enabled") == "true"
    Tsdb(other, default_schema(), SF)
    assert other.conf.get("spark.sql.ansi.enabled") == "false"
    assert other.conf.get("spark.sql.session.timeZone") == "UTC"
    assert other.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


def test_admin_set_reaches_next_statement(tsdb):
    """ADMIN SET changes the shared session, which existing posture
    sessions cloned before it do not see: it drops them so the next
    statement re-clones with the new value."""
    from yupana_spark.query import BroadcastLinksHint

    thr = "spark.sql.autoBroadcastJoinThreshold"
    prev = tsdb.spark.conf.get(thr)

    def link_join():
        # opted out of the forced link broadcast: only the size-based
        # threshold can make it a BroadcastHashJoin
        return _plan(tsdb.query(query(
            "orders", dt.datetime(1995, 1, 1), dt.datetime(2002, 1, 1),
            fields=[(E.LinkField("CustomerLink", "c_mktsegment"), "seg"),
                    (E.count(E.Field("o_orderkey")), "cnt")],
            group_by=[E.LinkField("CustomerLink", "c_mktsegment")],
            hints=[BroadcastLinksHint(enabled=False)])))

    assert "BroadcastHashJoin" in link_join()
    tsdb.sql(f"SET {thr} = -1")
    try:
        assert "BroadcastHashJoin" not in link_join()
    finally:
        tsdb.sql(f"SET {thr} = {prev}")
    assert "BroadcastHashJoin" in link_join()


def test_engine_session_skips_call_site_capture(spark):
    """Sessions built by ``get_spark`` turn PySpark's per-call call-site
    capture off (several py4j round trips per Column or functions call)."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
