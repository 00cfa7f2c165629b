"""Statement constants stay out of generated code (compiler._where): the
constants of WHERE column-constant comparisons are read from one
per-statement parameter row, and the time range prunes partitions."""

import datetime as dt
import os

import pytest

from tests.conftest import SF_ORACLE as SF, SF_SMALL
from yupana_spark import Tsdb, default_schema

# lineitem is fact-sized at SF: time-sliced


@pytest.fixture(scope="module")
def ftsdb(spark):
    return Tsdb(spark, default_schema(), SF)


@pytest.fixture(scope="module")
def whtsdb(spark, tmp_path_factory):
    """A warehouse whose ``events`` copy has at least three month
    buckets."""
    t = Tsdb(spark, default_schema(), SF_SMALL,
             warehouse_root=str(tmp_path_factory.mktemp("wh")))
    t.sql("UPSERT INTO events (time, event_id, user_id, event_type, value) "
          "VALUES (TIMESTAMP '2024-02-10', 990001, 3, 'p', 30.5), "
          "(TIMESTAMP '2024-03-10', 990002, 4, 'p', 40.5), "
          "(TIMESTAMP '2024-04-10', 990003, 5, 'p', 50.5)")
    return t


def _sources(df):
    seq = df._jdf.queryExecution().debug().codegenToSeq()
    return [seq.apply(i)._2() for i in range(seq.size())]


def _read_files(df):
    """The files the scans of ``df``'s physical plan read.  A path-based
    read prunes its partitions when the scan is planned, so
    ``DataFrame.inputFiles()`` (the logical relations' whole file index)
    does not show it."""
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    out = set()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if not leaf.getClass().getName().endswith("FileSourceScanExec"):
            continue
        parts = leaf.selectedPartitions().filePartitionIterator()
        while parts.hasNext():
            files = parts.next().files()
            while files.hasNext():
                out.add(files.next().getPath().toString())
    return out


def _compiles(spark):
    return (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount())


SHAPES = {
    "warehouse_day_rollup": (
        "whtsdb",
        "SELECT trunc_day(time) AS d, event_type, count(event_id) AS n "
        "FROM events WHERE time >= TIMESTAMP '{a}' AND time < TIMESTAMP '{b}' "
        "AND value > {x} AND user_id < {i} GROUP BY d, event_type",
        [("2024-01-01", "2024-03-20", "10.5", 40),
         ("2024-01-03 00:00:07", "2024-03-21", "12.25", 45)]),
    "lineitem_aggregate": (
        "ftsdb",
        "SELECT l_returnflag, sum(l_quantity) AS q FROM lineitem "
        "WHERE time >= TIMESTAMP '{a}' AND time < TIMESTAMP '{b}' "
        "AND l_discount >= {x} AND l_quantity < {i} GROUP BY l_returnflag",
        [("1995-01-01", "1996-01-01", "0.04", 20),
         ("1995-03-02 00:00:01", "1996-02-01", "0.05", 25)]),
    "link_join": (
        "ftsdb",
        "SELECT PartLink_p_brand AS brand, count(l_orderkey) AS cnt "
        "FROM lineitem WHERE time >= TIMESTAMP '{a}' "
        "AND time < TIMESTAMP '{b}' AND SupplierLink_s_acctbal > {x} "
        "AND l_linenumber < {i} GROUP BY brand",
        [("1995-01-01", "1997-01-01", "4000.5", 5),
         ("1995-02-01 00:00:03", "1997-03-01", "4500.25", 6)]),
    "window": (
        "ftsdb",
        "SELECT l_suppkey, time AS t, lag(time) AS prev_t FROM lineitem "
        "WHERE time >= TIMESTAMP '{a}' AND time < TIMESTAMP '{b}' "
        "AND l_quantity > {x} AND l_suppkey < {i} GROUP BY l_suppkey",
        [("1995-01-01", "1995-03-01", "10.5", 20),
         ("1995-01-05 00:00:09", "1995-03-07", "11.5", 30)]),
    "related_link": (
        "ftsdb",
        "SELECT l_returnflag, count(l_orderkey) AS cnt FROM lineitem "
        "WHERE time >= TIMESTAMP '{a}' AND time < TIMESTAMP '{b}' "
        "AND l_quantity > {x} AND l_linenumber < {i} "
        "AND RelatedItemsCatalog_phrase = 'red widget' GROUP BY l_returnflag",
        [("1995-01-01", "1997-01-01", "5.5", 5),
         ("1995-04-01 00:00:01", "1997-05-01", "6.5", 6)]),
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_generated_code_is_independent_of_constants(request, spark, shape):
    """Two statements of one shape with other time, double and int
    constants generate the same Java sources, and the second compiles
    none: it runs the classes the first one compiled."""
    fixture, text, draws = SHAPES[shape]
    tsdb = request.getfixturevalue(fixture)
    srcs = []
    for j, (a, b, x, i) in enumerate(draws):
        df = tsdb.sql(text.format(a=a, b=b, x=x, i=i))
        before = _compiles(spark)
        df.collect()
        if j:
            assert _compiles(spark) == before, "second statement compiled"
        srcs.append(_sources(df))
    assert srcs[0] and srcs[0] == srcs[1]


def test_fixture_copy_reads_only_overlapping_slices(ftsdb):
    """A time-bounded statement over a time-sliced fixture copy reads only
    the slices whose recorded time range overlaps its bounds."""
    from yupana_spark.schema import SLICE_HI, SLICE_LO

    def ranges(df):
        out = set()
        for f in _read_files(df):
            parts = dict(p.split("=") for p in f.split("/") if "=" in p)
            out.add((int(parts[SLICE_LO]), int(parts[SLICE_HI])))
        return out

    every = ranges(ftsdb.sql(
        "SELECT count(l_orderkey) AS c FROM lineitem WHERE "
        "time >= TIMESTAMP '1990-01-01' AND time < TIMESTAMP '2010-01-01'"))
    assert len(every) >= 4
    lo = dt.datetime(1996, 1, 1)
    hi = dt.datetime(1996, 2, 1)
    df = ftsdb.sql(
        "SELECT count(l_orderkey) AS c FROM lineitem WHERE "
        f"time >= TIMESTAMP '{lo}' AND time < TIMESTAMP '{hi}'")
    epoch = dt.datetime(1970, 1, 1)
    lo_us, hi_us = [(x - epoch) // dt.timedelta(microseconds=1)
                    for x in (lo, hi)]
    want = {r for r in every if r[1] >= lo_us and r[0] <= hi_us}
    assert ranges(df) == want and len(want) < len(every)
    direct = (ftsdb.spark.read.parquet(f"{SF}/lineitem.parquet")
              .filter(f"l_shipdate >= '{lo}' AND l_shipdate < '{hi}'")
              .count())
    assert df.collect()[0]["c"] == direct
    # a lower-only and an upper-only bound prune on their side alone: a
    # lower bound at the second slice's start drops the first slice, an
    # upper bound at the first slice's end keeps it alone
    first, second = sorted(every)[:2]
    us = dt.timedelta(microseconds=1)
    start, end = epoch + second[0] * us, epoch + first[1] * us
    for bounds, keep in ((((start, False), None), lambda r: r[1] >= second[0]),
                         ((None, (end, False)), lambda r: r[0] <= first[1])):
        half = ranges(ftsdb.schema.load(ftsdb.spark, SF, "lineitem",
                                        time_bounds=bounds))
        want = {r for r in every if keep(r)}
        assert half == want and len(want) < len(every)


def test_warehouse_table_reads_only_overlapping_buckets(whtsdb):
    """A time-bounded statement over a warehouse table reads only the
    month buckets that overlap its bounds."""
    wh = whtsdb.warehouse
    months = sorted(n for n in os.listdir(wh.path("events"))
                    if n.startswith("__month="))
    assert len(months) >= 3
    df = whtsdb.sql(
        "SELECT event_id FROM events WHERE "
        "time >= TIMESTAMP '2024-03-05' AND time < TIMESTAMP '2024-03-20'")
    read = {f.split("/")[-2] for f in _read_files(df)}
    assert read == {m for m in months if m.startswith("__month=2024-03")}
    assert [r["event_id"] for r in df.collect()] == [990002]
    # a lower-only and an upper-only bound prune on their side alone
    lo, hi = dt.datetime(2024, 3, 5), dt.datetime(2024, 3, 20)
    month = len("__month=")
    for bounds, keep in ((((lo, False), None), lambda m: m >= "2024-03"),
                         ((None, (hi, False)), lambda m: m <= "2024-03")):
        read = {f.split("/")[-2]
                for f in _read_files(wh.read("events", time_bounds=bounds))}
        want = {m for m in months if keep(m[month:month + 7])}
        assert read == want and len(want) < len(months)


def test_column_side_coerced_comparison_keeps_literal(ftsdb):
    """A comparison where Spark casts the column side (a BIGINT column
    against a decimal constant) keeps its literal and today's rows."""
    from pyspark.sql import functions as F

    df = ftsdb.sql(
        "SELECT l_orderkey, l_linenumber FROM lineitem WHERE "
        "time >= TIMESTAMP '1996-01-01' AND time < TIMESTAMP '1996-03-01' "
        "AND l_suppkey < 49.5")
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(tuple(r) for r in
                  ftsdb.spark.read.parquet(f"{SF}/lineitem.parquet")
                  .filter((F.col("l_shipdate") >= "1996-01-01")
                          & (F.col("l_shipdate") < "1996-03-01")
                          & (F.col("l_suppkey") <= 49))
                  .select("l_orderkey", "l_linenumber").collect())
    assert got == want and got
    # only the two time bounds are parameter-row fields
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "__p1" in plan and "__p2" not in plan


def test_unsliced_source_binds_no_parameter_row(ftsdb):
    """A source whose time range cannot reach the scan as a partition
    filter (a fixture too small to slice) keeps today's literal filter,
    pushed to the scan, and binds no parameter row."""
    assert not ftsdb.schema.time_sliced(ftsdb.spark, SF, "events")
    df = ftsdb.sql(
        "SELECT event_id FROM events WHERE time >= TIMESTAMP '2024-01-01' "
        "AND time < TIMESTAMP '2024-01-02' AND value > 10.5")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__p0" not in plan and "GreaterThanOrEqual(ts" in plan


def test_bound_type_follows_spark_coercion():
    from yupana_spark import types as yt
    from yupana_spark.compiler import _bound_type

    assert _bound_type(yt.TIMESTAMP, yt.TIMESTAMP) == yt.TIMESTAMP
    assert _bound_type(yt.DOUBLE, yt.DECIMAL) == yt.DOUBLE
    assert _bound_type(yt.DOUBLE, yt.INT) == yt.DOUBLE
    assert _bound_type(yt.LONG, yt.INT) == yt.LONG
    # Spark would cast the column side: the constant stays a literal
    assert _bound_type(yt.LONG, yt.DECIMAL) is None
    assert _bound_type(yt.INT, yt.LONG) is None
    assert _bound_type(yt.INT, yt.DOUBLE) is None
    # passed by reference already
    assert _bound_type(yt.STRING, yt.STRING) is None
    assert _bound_type(yt.CURRENCY, yt.DECIMAL) is None
