"""Write path: put / UPSERT / rollup / changelog / admin statements."""

import datetime as dt

import pytest

from yupana_spark import E, Tsdb, default_schema
from yupana_spark.operators.writes import Warehouse


@pytest.fixture()
def wtsdb(spark, tmp_path):
    return Tsdb(spark, default_schema(), "/root/testdata/sf0.001",
                warehouse_root=str(tmp_path / "wh"))


TB = "time >= TIMESTAMP '1995-01-01' AND time < TIMESTAMP '2002-01-01'"


def test_upsert_sql_roundtrip(wtsdb):
    before = wtsdb.sql(f"SELECT count(l_orderkey) c FROM lineitem WHERE {TB}") \
        .collect()[0]["c"]
    out = wtsdb.sql(
        "UPSERT INTO lineitem (time, l_orderkey, l_partkey, l_suppkey, "
        "l_linenumber, l_quantity) VALUES "
        "(TIMESTAMP '1996-06-06', 999999, 1, 1, 1, 42.0), "
        "(TIMESTAMP '1996-06-07', 999999, 1, 1, 2, 43.0)")
    assert out.collect()[0]["UPSERTED"] == 2
    after = wtsdb.sql(f"SELECT count(l_orderkey) c FROM lineitem WHERE {TB}") \
        .collect()[0]["c"]
    assert after == before + 2
    # idempotent by key: replaying the same upsert must not duplicate
    wtsdb.sql(
        "UPSERT INTO lineitem (time, l_orderkey, l_partkey, l_suppkey, "
        "l_linenumber, l_quantity) VALUES "
        "(TIMESTAMP '1996-06-06', 999999, 1, 1, 1, 50.0)")
    again = wtsdb.sql(f"SELECT count(l_orderkey) c FROM lineitem WHERE {TB}") \
        .collect()[0]["c"]
    assert again == after
    q = wtsdb.sql(f"SELECT sum(l_quantity) s FROM lineitem WHERE {TB} "
                  "AND l_orderkey = 999999").collect()[0]["s"]
    assert q == 50.0 + 43.0  # first row replaced, second kept


def test_put_rows(wtsdb):
    wh = wtsdb.warehouse
    row = {c: None for c in wh.read("events").columns}
    row.update(event_id=123456789, ts=dt.datetime(2024, 1, 15),
               time=dt.datetime(2024, 1, 15), user_id=1,
               event_type="synthetic", value=1.5, props="{}")
    n = wh.put_rows("events", [row])
    assert n == 1
    got = wtsdb.sql(
        "SELECT event_type et FROM events WHERE time >= TIMESTAMP '2024-01-15' "
        "AND time < TIMESTAMP '2024-01-16' AND event_id = 123456789").collect()
    assert got and got[0]["et"] == "synthetic"


def test_rollup_and_changelog(wtsdb):
    from yupana_spark.operators.rollup import Rollup, run_rollup

    r = Rollup(
        name="lineitem_by_day",
        from_table="lineitem",
        to_table="lineitem_by_day",
        time_trunc="day",
        group_by=("l_returnflag",),
        aggregates=(
            (E.sum_(E.Cast(E.Field("l_quantity", "DOUBLE"), "DECIMAL(18,4)")),
             "sum_qty"),
            (E.count(E.Field("l_quantity", "DOUBLE")), "cnt"),
        ),
    )
    out = run_rollup(wtsdb.warehouse, r)
    assert out.count() > 100
    # rollup result matches direct aggregation
    direct = wtsdb.sql(
        f"SELECT trunc_day(time) d, l_returnflag, count(l_quantity) c "
        f"FROM lineitem WHERE {TB} GROUP BY d, l_returnflag")
    assert out.count() == direct.count()


def test_updates_intervals_changelog(wtsdb):
    wtsdb.sql(
        "UPSERT INTO lineitem (time, l_orderkey, l_partkey, l_suppkey, "
        "l_linenumber, l_quantity) VALUES (TIMESTAMP '1997-03-03', 888888, 1, 1, 1, 1.0)")
    iv = wtsdb.sql("SHOW UPDATES_INTERVALS")
    rows = iv.collect()
    # statement-facing shape = the reference's five columns
    assert set(iv.columns) == {"table", "updated_at", "from", "to",
                               "updated_by"}
    assert any(r["table"] == "lineitem"
               and r["from"] == dt.datetime(1997, 3, 3)
               and r["to"] == dt.datetime(1997, 3, 4) for r in rows)


def test_admin_statements(wtsdb):
    tables = [r["TABLE_NAME"] for r in wtsdb.sql("SHOW TABLES").collect()]
    assert "lineitem" in tables and "orders" in tables
    cols = wtsdb.sql("SHOW COLUMNS FROM lineitem").collect()
    names = [r["COLUMN_NAME"] for r in cols]
    assert "time" in names and "l_quantity" in names
    assert any(n.startswith("PartLink_") for n in names)
    v = wtsdb.sql("SHOW VERSION").collect()[0]
    assert v["VERSION"]
    fns = [r["NAME"] for r in wtsdb.sql("SHOW FUNCTIONS FOR VARCHAR").collect()]
    assert "lower" in fns and "count" in fns
    qs = wtsdb.sql("SHOW QUERIES LIMIT 5").collect()
    assert len(qs) >= 1  # at least this session's statements
    ok = wtsdb.sql("SET spark.yupana.test = 'on'").collect()[0]
    assert ok["VALUE"] == "on"
    assert wtsdb.spark.conf.get("spark.yupana.test") == "on"
    deleted = wtsdb.sql("DELETE QUERIES WHERE STATE = 'FINISHED'").collect()[0]
    assert deleted["DELETED"] >= 1


def test_streaming_ingest(wtsdb, tmp_path):
    import json

    from yupana_spark.streaming.ingest import read_json_stream, save_data_points

    src = tmp_path / "stream_src"
    src.mkdir()
    events = wtsdb.warehouse.read("events")
    rows = [
        {"event_id": 555000 + i, "ts": f"2024-01-2{i} 00:00:00",
         "user_id": 7, "event_type": "streamed", "value": float(i),
         "props": "{}"}
        for i in range(3)
    ]
    (src / "batch1.json").write_text("\n".join(json.dumps(r) for r in rows))

    from pyspark.sql import functions as F, types as T

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.StringType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])
    stream = read_json_stream(wtsdb.spark, str(src), schema)
    stream = (stream.withColumn("ts", F.to_timestamp("ts"))
              .withColumn("time", F.col("ts")))
    q = save_data_points(stream, wtsdb.warehouse, "events",
                         str(tmp_path / "ckpt"), trigger_once=True)
    q.awaitTermination(120)
    got = wtsdb.sql(
        "SELECT count(event_id) c FROM events WHERE "
        "time >= TIMESTAMP '2024-01-20' AND time < TIMESTAMP '2024-01-25' "
        "AND event_type = 'streamed'").collect()[0]["c"]
    assert got == 3


def test_recalculate_month_rollup_preserves_full_bucket(wtsdb):
    """A dirty DAY must recompute its whole MONTH bucket: the incremental
    merge replaces entire buckets, so a one-day recompute window used to
    overwrite the month aggregate with a single day's partial sums."""
    from yupana_spark.operators.rollup import Rollup, recalculate, run_rollup

    r = Rollup(
        name="lineitem_by_month_recalc",
        from_table="lineitem",
        to_table="lineitem_by_month_recalc",
        time_trunc="month",
        group_by=("l_returnflag",),
        aggregates=((E.count(E.Field("l_quantity", "DOUBLE")), "cnt"),),
    )
    run_rollup(wtsdb.warehouse, r)

    def month_cnt():
        rows = wtsdb.warehouse.read("lineitem_by_month_recalc").filter(
            "time = TIMESTAMP '1997-03-01'").collect()
        return {x["l_returnflag"]: x["cnt"] for x in rows}

    before = month_cnt()
    # dirty one day inside 1997-03 via an upsert (writes the changelog too)
    wtsdb.sql(
        "UPSERT INTO lineitem (time, l_orderkey, l_partkey, l_suppkey, "
        "l_linenumber, l_quantity) VALUES "
        "(TIMESTAMP '1997-03-15', 777777, 1, 1, 1, 5.0)")
    recalculate(wtsdb.warehouse, r)
    after = month_cnt()
    # exactly one more row in the month bucket of that flag-partition set;
    # every other flag's full-month count must survive the recompute
    assert sum(after.values()) == sum(before.values()) + 1
    assert all(after[k] >= before[k] for k in before)
    # sanity: buckets hold multiple days' rows, so a one-day overwrite would
    # have collapsed counts (caught by the >= assertion above)
    assert min(before.values()) > 2


def test_recalculate_commits_dirty_buckets_once(wtsdb, monkeypatch):
    """Dirty days in three month buckets are recomputed by one rollup
    commit over their bucket ranges (adjacent buckets merged, the clean
    buckets between them left out), with the same result as a full
    rollup."""
    from yupana_spark.operators import rollup as rollup_mod
    from yupana_spark.operators.rollup import Rollup, recalculate, run_rollup

    wh = wtsdb.warehouse

    def rollup(name):
        return Rollup(
            name=name, from_table="lineitem", to_table=name,
            time_trunc="month", group_by=("l_returnflag",),
            aggregates=(
                (E.sum_(E.Cast(E.Field("l_quantity", "DOUBLE"),
                               "DECIMAL(18,4)")), "sum_qty"),
                (E.count(E.Field("l_quantity", "DOUBLE")), "cnt")))

    inc = rollup("lineitem_by_month_once")
    run_rollup(wh, inc)
    wtsdb.sql(
        "UPSERT INTO lineitem (time, l_orderkey, l_partkey, l_suppkey, "
        "l_linenumber, l_quantity) VALUES "
        "(TIMESTAMP '1997-03-15', 777781, 1, 1, 1, 5.0), "
        "(TIMESTAMP '1997-04-15', 777782, 1, 1, 1, 6.0), "
        "(TIMESTAMP '1997-09-15', 777783, 1, 1, 1, 7.0)")
    writes, windows = [], []
    real = Warehouse._write

    def counted(self, table, *a, **k):
        writes.append(table)
        return real(self, table, *a, **k)

    def recorded(*a, **k):
        windows.append(k.get("windows"))
        return run_rollup(*a, **k)

    monkeypatch.setattr(Warehouse, "_write", counted)
    monkeypatch.setattr(rollup_mod, "run_rollup", recorded)
    recalculate(wh, inc)
    assert writes == [inc.to_table]
    m = dt.datetime
    assert windows == [[(m(1997, 3, 1), m(1997, 5, 1)),
                        (m(1997, 9, 1), m(1997, 10, 1))]]
    full = rollup("lineitem_by_month_full")
    run_rollup(wh, full)

    def rows(name):
        return sorted(map(tuple, wh.read(name).collect()), key=repr)

    assert rows(inc.to_table) == rows(full.to_table)


def test_show_queries_stage_breakdown(wtsdb):
    """SHOW QUERIES exposes per-stage timings (≙ TsdbQueryMetrics persisted
    create/filter/reduce stage metrics)."""
    wtsdb.sql(f"SELECT count(l_orderkey) c FROM lineitem WHERE {TB}").collect()
    rows = wtsdb.sql("SHOW QUERIES LIMIT 3").collect()
    cols = set(rows[0].asDict())
    assert {"PARSE_S", "ANALYZE_S", "COMPILE_S"} <= cols
    done = [r for r in rows if r["STATE"] == "FINISHED"
            and r["QUERY"].startswith("SELECT count")]
    assert done and done[0]["COMPILE_S"] > 0.0 and done[0]["PARSE_S"] > 0.0


def test_metrics_survive_new_tsdb(spark, tmp_path):
    """Persisted TsdbQueryMetrics parity: finished metrics land under the
    warehouse root and a NEW engine instance over the same root (simulated
    restart: live registry wiped) reads them back; DELETE QUERIES removes
    them durably."""
    from yupana_spark.operators.metrics import REGISTRY

    root = str(tmp_path / "wh")
    t1 = Tsdb(spark, default_schema(), "/root/testdata/sf0.001",
              warehouse_root=root)
    t1.sql(f"SELECT count(l_orderkey) c FROM lineitem WHERE {TB}").collect()
    qid = [m.query_id for m in REGISTRY.snapshot()
           if m.query.startswith("SELECT count(l_orderkey)")][-1]

    # simulated restart: in-memory registry gone, fresh Tsdb on same root
    REGISTRY.delete()
    t2 = Tsdb(spark, default_schema(), "/root/testdata/sf0.001",
              warehouse_root=root)
    rows = {r["QUERY_ID"]: r for r in t2.sql("SHOW QUERIES").collect()}
    assert qid in rows
    assert rows[qid]["STATE"] == "FINISHED"
    assert rows[qid]["PARSE_S"] > 0.0 and rows[qid]["COMPILE_S"] > 0.0

    deleted = t2.sql(f"DELETE QUERIES WHERE QUERY_ID = '{qid}'") \
        .collect()[0]["DELETED"]
    assert deleted == 1
    t3 = Tsdb(spark, default_schema(), "/root/testdata/sf0.001",
              warehouse_root=root)
    # the DELETE/SHOW statements themselves create new metric rows; the
    # original query id must be gone durably
    assert qid not in {r["QUERY_ID"]
                       for r in t3.sql("SHOW QUERIES").collect()}


def test_metrics_registry_keeps_newest_finished():
    """A long-lived server's registry stays bounded: it keeps the newest
    ``FINISHED_KEPT`` finished entries and every running one."""
    from yupana_spark.operators.metrics import MetricsRegistry

    reg = MetricsRegistry()
    running = reg.start("SELECT 'still running'")
    qids = [reg.start(f"UPSERT {i}") for i in range(reg.FINISHED_KEPT + 50)]
    for q in qids:
        reg.finish(q)
    finished = [m.query_id for m in reg.snapshot() if m.state != "RUNNING"]
    assert len(finished) <= reg.FINISHED_KEPT
    assert set(finished) == set(qids[50:])
    assert reg.get(running).state == "RUNNING"


def test_dictionary_ids_ingest_parity(spark, tmp_path):
    """Ingest-time dictionary ids (Dictionary.scala:24-105 insertion
    semantics): the first upsert seeds sorted-value ids for the pre-existing
    corpus, new values append after the max in arrival order — so a LATER
    value that sorts EARLIER keeps a higher id (sorted-value recomputation
    would renumber it), ids survive a new Tsdb over the same root, and
    replays are no-ops."""
    root = str(tmp_path / "wh")
    t1 = Tsdb(spark, default_schema(), "/root/testdata/sf0.001",
              warehouse_root=root)
    q = ("SELECT l_returnflag, id(l_returnflag) AS fid, "
         f"count(l_orderkey) AS c FROM lineitem WHERE {TB} "
         "GROUP BY l_returnflag, fid")
    base = {r["l_returnflag"]: r["fid"] for r in t1.sql(q).collect()}
    assert base == {"A": 1, "N": 2, "R": 3}  # sorted-value fixture ids

    def ins(flag, key):
        t1.sql("UPSERT INTO lineitem (time, l_orderkey, l_partkey, "
               "l_suppkey, l_linenumber, l_returnflag, l_quantity) VALUES "
               f"(TIMESTAMP '1996-02-02', {key}, 1, 1, 1, '{flag}', 1.0)")

    ins("Z", 888881)          # new value after seeding -> appended: id 4
    ins("B", 888882)          # sorts before N/R/Z but arrived LAST -> id 5
    ids = {r["l_returnflag"]: r["fid"] for r in t1.sql(q).collect()}
    assert ids == {"A": 1, "N": 2, "R": 3, "Z": 4, "B": 5}

    # survives a fresh engine instance over the same warehouse root
    t2 = Tsdb(spark, default_schema(), "/root/testdata/sf0.001",
              warehouse_root=root)
    ids2 = {r["l_returnflag"]: r["fid"] for r in t2.sql(q).collect()}
    assert ids2 == ids

    # replaying a known value never renumbers anything
    t1.sql("UPSERT INTO lineitem (time, l_orderkey, l_partkey, l_suppkey, "
           "l_linenumber, l_returnflag, l_quantity) VALUES "
           "(TIMESTAMP '1996-02-03', 888883, 1, 1, 1, 'Z', 2.0)")
    ids3 = {r["l_returnflag"]: r["fid"] for r in t1.sql(q).collect()}
    assert ids3 == ids


def test_updates_intervals_where_filters(spark, tmp_path):
    """SHOW UPDATES_INTERVALS WHERE per UpdatesIntervalsProvider.scala
    :95-117: the closed condition set filters, everything else rejects
    with the reference's 'Unsupported condition' message."""
    t = Tsdb(spark, default_schema(), "/root/testdata/sf0.001",
             warehouse_root=str(tmp_path / "wh"), user="alice")
    t.sql("UPSERT INTO lineitem (time, l_orderkey, l_partkey, l_suppkey, "
          "l_linenumber, l_quantity) VALUES "
          "(TIMESTAMP '1997-03-03', 888888, 1, 1, 1, 1.0)")
    t.sql("UPSERT INTO events (time, event_id, user_id, event_type, value) "
          "VALUES (TIMESTAMP '2024-03-01 10:00:00', 1, 1, 'x', 1.0)")

    def n(sql, params=None):
        return t.sql(sql, params=params).count()

    assert n("SHOW UPDATES_INTERVALS") == 2
    assert n("SHOW UPDATES_INTERVALS WHERE table = 'events'") == 1
    assert n("SHOW UPDATES_INTERVALS WHERE 'events' = table") == 1
    assert n("SHOW UPDATES_INTERVALS WHERE table = ?", ["lineitem"]) == 1
    assert n("SHOW UPDATES_INTERVALS WHERE updated_by = 'alice'") == 2
    assert n("SHOW UPDATES_INTERVALS WHERE updated_by = 'bob'") == 0
    # updated_at is wall-clock 'now': a wide window matches, an old one not
    assert n("SHOW UPDATES_INTERVALS WHERE updated_at BETWEEN "
             "TIMESTAMP '2000-01-01' AND TIMESTAMP '2100-01-01'") == 2
    assert n("SHOW UPDATES_INTERVALS WHERE updated_at BETWEEN "
             "TIMESTAMP '2000-01-01' AND TIMESTAMP '2001-01-01'") == 0
    # recalculated_at targets the rewritten day window [from, to)
    assert n("SHOW UPDATES_INTERVALS WHERE recalculated_at >= "
             "TIMESTAMP '2024-01-01'") == 1
    assert n("SHOW UPDATES_INTERVALS WHERE recalculated_at BETWEEN "
             "TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-12-31'") == 1
    # overlap arm: the range START falls inside the day window
    assert n("SHOW UPDATES_INTERVALS WHERE recalculated_at BETWEEN "
             "TIMESTAMP '1997-03-03 12:00:00' "
             "AND TIMESTAMP '1997-03-10'") == 1
    # AND-composition narrows
    assert n("SHOW UPDATES_INTERVALS WHERE table = 'events' AND "
             "updated_by = 'alice' AND recalculated_at BETWEEN "
             "TIMESTAMP '2024-02-01' AND TIMESTAMP '2024-04-01'") == 1
    for bad in [
        "SHOW UPDATES_INTERVALS WHERE value > 3",
        "SHOW UPDATES_INTERVALS WHERE table <> 'events'",
        "SHOW UPDATES_INTERVALS WHERE table = 'a' OR table = 'b'",
        "SHOW UPDATES_INTERVALS WHERE updated_at BETWEEN 1 AND 2",
    ]:
        with pytest.raises(Exception, match="Unsupported|required"):
            t.sql(bad)
    with pytest.raises(Exception, match="not defined"):
        t.sql("SHOW UPDATES_INTERVALS WHERE table = ?")
    # programmatic filter parity with ChangelogDaoHBase.dateRangeFilter:
    # a BEFORE-only updated_at bound is `case _ => None` — NO filter
    from yupana_spark.operators.writes import UpdatesIntervalsFilter

    wh = t.warehouse
    old = dt.datetime(2000, 1, 1)
    assert wh.updates_intervals(
        UpdatesIntervalsFilter(updated_before=old)).count() == 2
    assert wh.updates_intervals(
        UpdatesIntervalsFilter(updated_after=old)).count() == 2
    assert wh.updates_intervals(
        UpdatesIntervalsFilter(updated_after=dt.datetime(2100, 1, 1))
    ).count() == 0


def test_recalculate_incremental_since_filter(wtsdb):
    """Incremental recalc: `since` restricts to changelog entries written
    at or after that instant (the scheduled-rollup contract), and a
    future `since` with nothing dirty leaves the rollup untouched."""
    import datetime as dt2

    from yupana_spark.operators.rollup import Rollup, recalculate, \
        run_rollup

    r = Rollup(
        name="lineitem_by_month_inc",
        from_table="lineitem",
        to_table="lineitem_by_month_inc",
        time_trunc="month",
        group_by=("l_returnflag",),
        aggregates=((E.count(E.Field("l_quantity", "DOUBLE")), "cnt"),),
    )
    run_rollup(wtsdb.warehouse, r)

    def total():
        return sum(x["cnt"] for x in
                   wtsdb.warehouse.read("lineitem_by_month_inc").collect())

    base = total()
    # nothing written since the far future -> untouched (and no full rerun)
    out = recalculate(wtsdb.warehouse, r,
                      since=dt2.datetime(9000, 1, 1))
    assert sum(x["cnt"] for x in out.collect()) == base
    mark = dt2.datetime.now() - dt2.timedelta(seconds=1)
    wtsdb.sql(
        "UPSERT INTO lineitem (time, l_orderkey, l_partkey, l_suppkey, "
        "l_linenumber, l_quantity) VALUES "
        "(TIMESTAMP '1997-05-15', 777778, 1, 1, 1, 5.0)")
    recalculate(wtsdb.warehouse, r, since=mark)
    assert total() == base + 1
    # updated_by narrowing: this warehouse writes as 'anonymous'
    recalculate(wtsdb.warehouse, r, updated_by="somebody_else")
    assert total() == base + 1                 # nothing matched, unchanged


def test_recalculate_bootstraps_full_target_with_dirty_changelog(wtsdb):
    """A never-materialized rollup target + a NON-empty changelog must
    still bootstrap the FULL table — replaying only the dirty buckets
    would install a partial rollup that later runs never repair."""
    from yupana_spark.operators.rollup import Rollup, recalculate

    # dirty exactly one day BEFORE the target ever exists
    wtsdb.sql(
        "UPSERT INTO lineitem (time, l_orderkey, l_partkey, l_suppkey, "
        "l_linenumber, l_quantity) VALUES "
        "(TIMESTAMP '1997-07-07', 777779, 1, 1, 1, 2.0)")
    r = Rollup(
        name="lineitem_by_month_boot",
        from_table="lineitem",
        to_table="lineitem_by_month_boot",
        time_trunc="month",
        group_by=("l_returnflag",),
        aggregates=((E.count(E.Field("l_quantity", "DOUBLE")), "cnt"),),
    )
    out = recalculate(wtsdb.warehouse, r)
    months = {x["time"] for x in out.select("time").distinct().collect()}
    assert len(months) > 12          # full history, not just 1997-07


def test_compact_preserves_content_and_merges_files(wtsdb):
    """compact(): physical re-layout only — row multiset identical, file
    count per time-bucket partition drops to ~1, bucket pruning survives."""
    import pyspark.sql.functions as F

    wh = wtsdb.warehouse
    # seed a warehouse copy spread over many shuffle files
    src = wtsdb.schema.load(wtsdb.spark, wtsdb.sf_dir, "orders") \
        .repartition(8)
    wh.write_table("orders", src)
    before_rows = sorted(map(tuple, wh.read("orders").collect()))
    stats = wh.compact("orders")
    assert stats["files_after"] < stats["files_before"]
    after = wh.read("orders")
    assert sorted(map(tuple, after.collect())) == before_rows
    # one file per month partition
    import os

    path = wh.path("orders")
    per_part = {}
    for root, _, fs in os.walk(path):
        n = sum(1 for f in fs if f.endswith(".parquet"))
        if n:
            per_part[root] = n
    assert per_part and all(n == 1 for n in per_part.values())
    # still prunable + queryable through the engine
    got = wtsdb.sql(f"SELECT count(o_orderkey) c FROM orders WHERE {TB}") \
        .collect()[0]["c"]
    assert got == len(before_rows)


def test_compact_missing_table_raises(wtsdb):
    with pytest.raises(KeyError):
        wtsdb.warehouse.compact("orders")


def test_compact_pins_artifact_token(wtsdb):
    """compact() is content-identical, so the table's artifact token must
    survive it (no refits for a physical re-layout); the next real write
    must invalidate as usual."""
    wh = wtsdb.warehouse
    src = wtsdb.schema.load(wtsdb.spark, wtsdb.sf_dir, "orders") \
        .repartition(4)
    wh.write_table("orders", src)
    t0 = wh.table_token("orders")
    wh.compact("orders")
    assert wh.table_token("orders") == t0          # pinned across compact
    wh.compact("orders")
    assert wh.table_token("orders") == t0          # and across a re-compact
    wtsdb.sql(
        "UPSERT INTO orders (time, o_orderkey, o_custkey, o_orderstatus, "
        "o_orderpriority, o_totalprice) VALUES "
        "(TIMESTAMP '1996-06-01', 990001, 1, 'F', '1-URGENT', 9.5)")
    assert wh.table_token("orders") != t0          # real write invalidates


def test_compact_max_records_per_file_resplit(wtsdb):
    """max_records_per_file re-splits oversized partitions while content
    stays identical."""
    wh = wtsdb.warehouse
    src = wtsdb.schema.load(wtsdb.spark, wtsdb.sf_dir, "orders")
    wh.write_table("orders", src)
    n = wh.read("orders").count()
    before = sorted(map(tuple, wh.read("orders").collect()))
    st = wh.compact("orders", max_records_per_file=25)
    assert sorted(map(tuple, wh.read("orders").collect())) == before
    # every file holds <= 25 rows => at least ceil(n/25) files
    assert st["files_after"] >= (n + 24) // 25


def test_swap_sweeps_leaked_old_dirs(wtsdb, monkeypatch):
    """A failed .old delete must not leak forever: the next write of the
    table sweeps stale .old.* (and a killed writer's .tmp.*) siblings."""
    import glob

    import yupana_spark.operators.writes as W

    wh = wtsdb.warehouse
    src = wtsdb.schema.load(wtsdb.spark, wtsdb.sf_dir, "orders").limit(50)
    wh.write_table("orders", src)
    real = W.shutil.rmtree

    def flaky(path, ignore_errors=False, **kw):
        if ignore_errors:
            return                     # sweep is a no-op while "broken"
        raise OSError("simulated EBUSY")

    monkeypatch.setattr(W.shutil, "rmtree", flaky)
    wh.write_table("orders", src)              # .old delete fails -> leak
    leaked = glob.glob(wh.path("orders") + ".old.*")
    assert leaked
    monkeypatch.setattr(W.shutil, "rmtree", real)
    # also simulate a killed writer's tmp dir
    os_stale = wh.path("orders") + ".tmp.deadbeef"
    import os

    os.makedirs(os_stale, exist_ok=True)
    wh.write_table("orders", src)
    # .old is always safe (a completed rename's target — never written
    # into), so it sweeps immediately...
    assert not glob.glob(wh.path("orders") + ".old.*")
    # ...but a YOUNG .tmp dir may be another writer's in-flight job
    assert glob.glob(wh.path("orders") + ".tmp.*")
    # past the activity horizon the next write sweeps it too
    wh.SWEEP_AGE_S = -1.0
    wh.write_table("orders", src)
    assert not glob.glob(wh.path("orders") + ".tmp.*")
    assert wh.read("orders").count() == 50


def test_failed_write_leaves_no_sibling(wtsdb, monkeypatch):
    """A commit that fails while writing its directory removes it: no
    ``<table>.*`` sibling is left, and the previous snapshot still
    reads."""
    import glob

    import yupana_spark.operators.writes as W

    wh = wtsdb.warehouse
    src = wtsdb.schema.load(wtsdb.spark, wtsdb.sf_dir, "orders").limit(30)
    wh.write_table("orders", src)
    before = sorted(map(tuple, wh.read("orders").collect()))
    real = W._write_dir

    def failing(out, tmp, *a, **k):
        real(out, tmp, *a, **k)          # files on disk, then a failure
        raise OSError("simulated disk full")

    monkeypatch.setattr(W, "_write_dir", failing)
    for commit in (lambda: wh.write_table("orders", src.limit(5)),
                   lambda: wh.compact("orders")):
        with pytest.raises(OSError, match="simulated"):
            commit()
        assert not glob.glob(wh.path("orders") + ".*")
        assert sorted(map(tuple, wh.read("orders").collect())) == before


# -- snapshot reads: one resolution of a table's files and schema per commit


def test_schema_pin_equals_inferred_schema(wtsdb):
    """Every commit pins exactly the schema a read would infer (nullable
    at every level, the bucket column last)."""
    import json
    import os

    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    from yupana_spark.operators.writes import SCHEMA_PIN

    wh, spark = wtsdb.warehouse, wtsdb.spark

    def check(table):
        with open(os.path.join(wh.path(table), SCHEMA_PIN)) as f:
            pinned = T.StructType.fromJson(json.load(f))
        assert pinned == spark.read.parquet(wh.path(table)).schema

    orders = wtsdb.schema.load(spark, wtsdb.sf_dir, "orders").limit(20)
    wh.write_table("orders", orders)                   # partitioned _write
    check("orders")
    wh.compact("orders")
    check("orders")
    flat = spark.range(3).select(
        "id", F.array(F.col("id")).alias("ids"),
        F.lit("1.50").cast("decimal(18,2)").alias("fee"))
    wh.write_table("flat", flat)                       # no time column
    check("flat")
    wh.compact("flat")
    check("flat")


def test_snapshot_read_sees_every_commit(wtsdb, spark):
    """Each commit (upsert, write_table, compact, recalculate) drops the
    table's one memoized read, for this Tsdb and for a second one on the
    same root; a repeated read between commits is the same frame."""
    import os
    from urllib.parse import unquote, urlparse

    from yupana_spark import memo
    from yupana_spark.operators.rollup import Rollup, recalculate

    wh = wtsdb.warehouse
    other = Tsdb(spark, default_schema(), wtsdb.sf_dir,
                 warehouse_root=wh.root).warehouse
    upsert = ("UPSERT INTO orders (time, o_orderkey, o_custkey, "
              "o_orderstatus, o_orderpriority, o_totalprice) VALUES "
              "(TIMESTAMP '1996-06-0{d}', 99000{d}, 1, 'F', '1-URGENT', 1.0)")

    def keys(w, table="orders"):
        df = w.read(table)
        assert all(os.path.exists(unquote(urlparse(p).path))
                   for p in df.inputFiles())
        return {r[0] for r in df.filter("o_orderkey >= 990000")
                .select("o_orderkey").collect()}

    wtsdb.sql(upsert.format(d=1))
    assert keys(wh) == keys(other) == {990001}
    assert wh.snapshot("orders") is other.snapshot("orders")
    wtsdb.sql(upsert.format(d=2))
    assert memo.peek("wh_read", (wh.path("orders"),)) is None
    assert keys(other) == keys(wh) == {990001, 990002}
    wh.write_table("orders", wh.read("orders").filter("o_orderkey != 990001"))
    assert keys(wh) == keys(other) == {990002}
    before = set(wh.read("orders").inputFiles())
    wh.compact("orders")
    assert keys(other) == {990002}
    assert not before & set(other.read("orders").inputFiles())

    r = Rollup(name="orders_by_month", from_table="orders",
               to_table="orders_by_month", time_trunc="month",
               group_by=(), aggregates=((E.count(E.Field(
                   "o_orderkey", "LONG")), "n"),))

    def month_n():
        return {x["time"]: x["n"] for x in other.read(r.to_table).collect()}

    recalculate(wh, r)
    before = month_n()
    wtsdb.sql(upsert.format(d=3))
    recalculate(wh, r)
    june = dt.datetime(1996, 6, 1)
    assert month_n() == {**before, june: before[june] + 1}


def test_snapshot_reads_directory_without_pin(wtsdb):
    """A table directory written before schema pins existed is read with
    an inferred schema."""
    import os

    from yupana_spark import memo
    from yupana_spark.operators.writes import SCHEMA_PIN

    wh = wtsdb.warehouse
    wh.write_table("orders",
                   wtsdb.schema.load(wtsdb.spark, wtsdb.sf_dir, "orders"))
    want = sorted(map(tuple, wh.read("orders").collect()))
    os.remove(os.path.join(wh.path("orders"), SCHEMA_PIN))
    memo.invalidate("wh_read")
    assert sorted(map(tuple, wh.read("orders").collect())) == want


def test_snapshot_build_racing_a_commit_is_not_kept(wtsdb, monkeypatch):
    """A read whose build overlapped a commit of the table is returned
    but not memoized: the next read lists the committed files."""
    import yupana_spark.operators.writes as W
    from yupana_spark import memo

    wh = wtsdb.warehouse
    src = wtsdb.schema.load(wtsdb.spark, wtsdb.sf_dir, "orders")
    wh.write_table("orders", src.limit(10))
    memo.invalidate("wh_read")
    real = W._read_dir

    def racing(spark, path):
        df = real(spark, path)
        monkeypatch.setattr(W, "_read_dir", real)
        wh.write_table("orders", src.limit(20))       # commits mid-build
        return df

    monkeypatch.setattr(W, "_read_dir", racing)
    wh.read("orders")
    assert memo.peek("wh_read", (wh.path("orders"),)) is None
    assert wh.read("orders").count() == 20


def test_upsert_values_arrow_batch_roundtrip(wtsdb):
    """UPSERT VALUES batches keep DECIMAL/CURRENCY values (rounded half-up
    to the column scale), NULL dimensions and microsecond timestamps, and
    a key repeated inside one batch keeps its last row."""
    from decimal import Decimal

    import pyspark.sql.functions as F

    wh = wtsdb.warehouse
    wh.write_table("orders", wtsdb.schema.load(
        wtsdb.spark, wtsdb.sf_dir, "orders").limit(5).select(
        "*", F.lit(None).cast("decimal(18,2)").alias("o_fee"),
        F.lit(None).cast("decimal(18,4)").alias("o_rate")))
    t = dt.datetime(1996, 6, 6, 1, 2, 3, 456789)
    cols = ["time", "o_orderkey", "o_custkey", "o_orderstatus",
            "o_orderpriority", "o_totalprice", "o_fee", "o_rate"]
    n = wh.upsert_values("orders", cols, [
        (t, 990001, None, None, "1-URGENT", Decimal("1.5"),
         Decimal("12.345"), 7),
        (t, 990002, 5, "F", None, 2, Decimal("-0.005"), Decimal("0.12345")),
        (t, 990001, None, None, "1-URGENT", Decimal("9.5"),
         Decimal("1.01"), None),                      # same key: wins
    ])
    assert n == 2
    got = {r["o_orderkey"]: r.asDict() for r in wh.read("orders")
           .filter("o_orderkey >= 990001").collect()}
    common = {"time": t, "o_orderdate": t}
    assert {k: {c: v[c] for c in cols[1:] + ["time", "o_orderdate"]}
            for k, v in got.items()} == {
        990001: {**common, "o_orderkey": 990001, "o_custkey": None,
                 "o_orderstatus": None, "o_orderpriority": "1-URGENT",
                 "o_totalprice": 9.5, "o_fee": Decimal("1.01"),
                 "o_rate": None},
        990002: {**common, "o_orderkey": 990002, "o_custkey": 5,
                 "o_orderstatus": "F", "o_orderpriority": None,
                 "o_totalprice": 2.0, "o_fee": Decimal("-0.01"),
                 "o_rate": Decimal("0.1235")},
    }


def test_changelog_without_updated_by_reads_anonymous(wtsdb):
    """The changelog is read with its declared columns: a legacy
    Spark-written file (INT96 timestamps, no ``updated_by``) reads back
    as 'anonymous' next to a driver-written one, and an ``updated_at``
    filter splits the two by their instants."""
    import glob
    import os

    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from yupana_spark.operators.writes import CHANGELOG, \
        UpdatesIntervalsFilter

    wh = wtsdb.warehouse
    log = os.path.join(wh.root, CHANGELOG)
    wtsdb.spark.range(1).select(
        F.lit(dt.datetime(1997, 3, 3)).alias("day"),
        F.lit("lineitem").alias("table_name"),
        F.lit(dt.datetime(2001, 1, 1)).alias("updated_at"),
    ).write.mode("append").parquet(log)
    legacy = glob.glob(os.path.join(log, "part-*.parquet"))
    assert {pq.ParquetFile(f).schema.column(0).physical_type
            for f in legacy} == {"INT96"}
    wtsdb.sql(
        "UPSERT INTO lineitem (time, l_orderkey, l_partkey, l_suppkey, "
        "l_linenumber, l_quantity) VALUES "
        "(TIMESTAMP '1997-04-04', 888888, 1, 1, 1, 1.0)")
    assert not [n for n in os.listdir(log) if n.endswith(".tmp")]

    def got(flt=None):
        return {(r["day"], r["updated_by"])
                for r in wh.updates_intervals(flt).collect()}

    old = (dt.datetime(1997, 3, 3), "anonymous")
    new = (dt.datetime(1997, 4, 4), wh.user)
    assert got() == {old, new}
    assert got(UpdatesIntervalsFilter(
        updated_after=dt.datetime(2000, 12, 31))) == {old, new}
    assert got(UpdatesIntervalsFilter(
        updated_after=dt.datetime(2001, 1, 1, 0, 0, 1))) == {new}
    assert got(UpdatesIntervalsFilter(
        updated_after=dt.datetime(2000, 12, 31),
        updated_before=dt.datetime(2001, 1, 2))) == {old}


@pytest.fixture()
def wire(wtsdb):
    """``(run, jobs)`` over a pgwire connection to ``wtsdb``: ``run(sql)``
    answers a statement, ``jobs(op)`` counts the Spark jobs that a
    statement or a callable ``op`` starts (the DAG scheduler's job id
    counter)."""
    from yupana_spark.server import PgWireServer
    from tests.test_pgwire import PgClient

    srv = PgWireServer(wtsdb, port=0)
    c = PgClient(srv.start(), ssl_probe=True)
    c.read_until_ready()
    sched = wtsdb.spark.sparkContext._jsc.sc().dagScheduler()

    def run(sql):
        _, rows, errors = c.query(sql)
        assert not errors
        return rows

    def jobs(op):
        n = sched.nextJobId()
        op() if callable(op) else run(op)
        return sched.nextJobId() - n

    try:
        yield run, jobs
    finally:
        c.close()
        srv.stop()


def _events_upsert(key, day="2024-01-06"):
    return ("UPSERT INTO events (time, event_id, user_id, event_type, "
            f"value) VALUES (TIMESTAMP '{day}', {key}, 1, 'x', 1.0)")


def test_pgwire_select_on_warehouse_table_runs_one_job(wtsdb, wire):
    """A SELECT on a warehouse table runs exactly one Spark job: its
    result collect.  Resolving the table's files and schema runs none,
    on the first SELECT after an UPSERT as on an unchanged table, and
    for a table with more bucket directories than Spark lists without a
    job by default (32)."""
    import os

    import pyspark.sql.functions as F

    run, jobs = wire
    sel = ("SELECT count(event_id) AS c FROM events WHERE "
           "time >= TIMESTAMP '2023-01-01' AND time < TIMESTAMP '2025-01-01'")
    for key in (999991, 999992):
        run(_events_upsert(key))
        assert jobs(sel) == 1          # first SELECT after the commit
        assert jobs(sel) == 1          # unchanged table
    wh = wtsdb.warehouse
    ev = wh.read("events")
    spread = (ev.limit(1)
              .crossJoin(wtsdb.spark.range(40).withColumnRenamed("id", "m"))
              .withColumn("time", F.expr(
                  "time + make_ym_interval(0, CAST(m AS INT))"))
              .drop("m"))
    wh.write_table("events", ev.unionByName(spread))
    assert len([n for n in os.listdir(wh.path("events"))
                if n.startswith("__month=")]) >= 40
    assert jobs(sel) == 1


def test_write_path_job_counts(wtsdb, wire):
    """A steady UPSERT commits with three Spark jobs (the batch's summary
    action, the key broadcast, the table write), an incremental recalc of
    one dirty bucket with one (the target write), and SHOW
    UPDATES_INTERVALS runs none: the changelog is written and read on the
    driver."""
    from yupana_spark import types as yt
    from yupana_spark.operators.rollup import Rollup, recalculate, \
        run_rollup

    run, jobs = wire
    wh = wtsdb.warehouse
    r = Rollup(name="events_by_day_jobs", from_table="events",
               to_table="events_by_day_jobs", time_trunc="day",
               group_by=("event_type",),
               aggregates=((E.count(E.Field("event_id", yt.LONG)), "n"),))
    run(_events_upsert(999981))     # the first commit seeds dictionaries
    run_rollup(wh, r)
    mark = dt.datetime.now() - dt.timedelta(seconds=1)
    assert jobs(_events_upsert(999982)) == 3
    assert jobs(lambda: recalculate(wh, r, since=mark)) == 1
    assert jobs("SHOW UPDATES_INTERVALS") == 0
    day = dt.datetime(2024, 1, 6)
    n = {x["event_type"]: x["n"] for x in wh.read(r.to_table)
         .filter(f"time = TIMESTAMP '{day}'").collect()}
    want = {x["event_type"]: x["n"] for x in wh.read("events")
            .filter(f"time >= TIMESTAMP '{day}' AND "
                    f"time < TIMESTAMP '{day + dt.timedelta(days=1)}'")
            .groupBy("event_type").count().withColumnRenamed("count", "n")
            .collect()}
    assert n == want


def test_upsert_releases_cached_batch_on_failure(wtsdb, monkeypatch):
    """A failing commit still releases the cached batch."""

    def fail(*a, **k):
        raise RuntimeError("write failed")

    sc = wtsdb.spark.sparkContext._jsc.sc()
    before = len(sc.getRDDStorageInfo())
    monkeypatch.setattr(Warehouse, "_write", fail)
    with pytest.raises(RuntimeError, match="write failed"):
        wtsdb.warehouse.upsert_values(
            "events", ["time", "event_id", "user_id", "event_type", "value"],
            [(dt.datetime(2024, 1, 6), 999971, 1, "x", 1.0)])
    assert len(sc.getRDDStorageInfo()) == before


@pytest.mark.parametrize("summary_bytes", [Warehouse.SUMMARY_VALUES_BYTES, 0],
                         ids=["summary-action", "spillable-distinct"])
def test_upsert_demotes_dictionary_past_cap(wtsdb, monkeypatch,
                                            summary_bytes):
    """A batch whose new values push a dictionary dim far past DICT_CAP
    demotes it, and a later batch does not seed it again.  Either way of
    collecting a batch's values (in the summary action, or per dim
    through a spillable distinct for a batch estimated larger than
    SUMMARY_VALUES_BYTES) hands over at most DICT_CAP + 1 of them."""
    import os

    wh = wtsdb.warehouse
    monkeypatch.setattr(Warehouse, "DICT_CAP", 3)
    monkeypatch.setattr(Warehouse, "SUMMARY_VALUES_BYTES", summary_bytes)
    handed = []
    real = Warehouse._update_dictionaries

    def recorded(self, t, current, batch_values):
        handed.append({k: len(v) for k, v in batch_values.items()})
        return real(self, t, current, batch_values)

    monkeypatch.setattr(Warehouse, "_update_dictionaries", recorded)

    def ins(key, *flags):
        wtsdb.sql(
            "UPSERT INTO lineitem (time, l_orderkey, l_partkey, l_suppkey, "
            "l_linenumber, l_returnflag, l_quantity) VALUES " + ", ".join(
                f"(TIMESTAMP '1996-02-02', {key}, 1, 1, {i + 1}, '{f}', 1.0)"
                for i, f in enumerate(flags)))

    ins(888881, "A")                  # seeds the fixture's A, N, R
    assert wh.load_dictionary("lineitem", "l_returnflag") == {
        "A": 1, "N": 2, "R": 3}
    ins(888882, *(f"V{i}" for i in range(40)))
    assert handed[-1]["l_returnflag"] == 4
    path = wh.dict_path("lineitem", "l_returnflag")
    assert wh.load_dictionary("lineitem", "l_returnflag") is None
    assert os.path.exists(path + ".demoted") and not os.path.exists(path)
    ins(888883, "G")
    assert wh.load_dictionary("lineitem", "l_returnflag") is None
    assert not os.path.exists(path)
    got = wtsdb.sql(f"SELECT count(l_orderkey) AS c FROM lineitem WHERE {TB}"
                    " AND l_orderkey >= 888881 AND l_orderkey <= 888883"
                    ).collect()[0]["c"]
    assert got == 42


def test_table_bytes_counts_bucket_directories(wtsdb):
    """A warehouse table's volume is the bytes of every file under its
    directory, its month-bucket subdirectories included."""
    import pathlib

    from yupana_spark import memo
    from yupana_spark.operators.writes import table_bytes

    wtsdb.sql(_events_upsert(999961))
    wh = wtsdb.warehouse
    root = pathlib.Path(wh.path("events"))
    on_disk = sum(p.stat().st_size for p in root.rglob("*") if p.is_file())
    top = sum(p.stat().st_size for p in root.iterdir() if p.is_file())
    assert any(p.name.startswith("__month=") for p in root.iterdir())
    memo.invalidate("table_bytes")
    got = table_bytes(wtsdb.schema, wtsdb.sf_dir, wh, "events")
    assert got == on_disk and got > top


def test_changelog_files_read_once(wtsdb, monkeypatch):
    """``updates_intervals`` reads each changelog file once per process
    and returns what a full read returns; a vanished file makes the next
    call read everything again."""
    import os

    from yupana_spark.operators import writes
    from yupana_spark.operators.writes import CHANGELOG

    reads = []
    real = writes._read_changelog_file

    def counted(path):
        reads.append(os.path.basename(path))
        return real(path)

    monkeypatch.setattr(writes, "_read_changelog_file", counted)
    wh = wtsdb.warehouse
    log = os.path.join(wh.root, CHANGELOG)

    def rows():
        return sorted(tuple(r) for r in wh.updates_intervals().collect())

    def arrow_rows(table):
        return sorted(tuple(r.values()) for r in table.to_pylist())

    def full():
        return sorted(row for f in os.listdir(log) if f.endswith(".parquet")
                      for row in arrow_rows(real(os.path.join(log, f))))

    for i, day in enumerate(("2024-01-06", "2024-01-07", "2024-01-08")):
        wtsdb.sql(_events_upsert(999951 + i, day))
        first = rows()
    files = sorted(f for f in os.listdir(log) if f.endswith(".parquet"))
    assert len(files) == 3
    assert rows() == rows() == first
    assert sorted(reads) == files            # each file read once
    assert arrow_rows(writes._read_changelog(log)) == full()
    assert len(first) == 3
    os.remove(os.path.join(log, files[0]))
    reads.clear()
    assert len(rows()) == len(first) - 1
    assert sorted(reads) == files[1:]        # read everything again
