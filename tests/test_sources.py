"""Batch file-ingest connectors (sources/files.py): CSV and JSON-lines land
through the standard upsert path — typed projection, missing/extra columns,
changelog and read-back all verified end-to-end."""

import json

import pytest

from tests.conftest import SF_SMALL


@pytest.fixture()
def wh(spark, tmp_path):
    from yupana_spark import default_schema
    from yupana_spark.operators.writes import Warehouse

    return Warehouse(spark, default_schema(), SF_SMALL,
                     root=str(tmp_path / "wh"))


def test_ingest_csv(spark, wh, tmp_path):
    from yupana_spark.sources.files import ingest_file

    p = tmp_path / "batch.csv"
    p.write_text(
        "ts,event_id,user_id,event_type,value,extra_col\n"
        "2024-03-10 10:00:00,910001,7,csv_loaded,1.25,ignored\n"
        "2024-03-10 11:00:00,910002,8,csv_loaded,2.5,ignored\n")
    n = ingest_file(wh, "events", str(p))
    assert n == 2
    got = (wh.read("events")
           .filter("event_type = 'csv_loaded'")
           .orderBy("event_id").collect())
    assert [(r["event_id"], r["user_id"], r["value"]) for r in got] == \
        [(910001, 7, 1.25), (910002, 8, 2.5)]
    # the write logged its rewritten day in the changelog
    days = {(r["table_name"], r["day"].strftime("%Y-%m-%d"))
            for r in wh.updates_intervals().collect()}
    assert ("events", "2024-03-10") in days


def test_ingest_jsonl_missing_and_malformed_columns(spark, wh, tmp_path):
    from yupana_spark.sources.files import ingest_file

    p = tmp_path / "batch.jsonl"
    rows = [
        # 'time' spelled directly (not the source ts alias); props missing
        {"time": "2024-03-11 09:00:00", "event_id": 920001, "user_id": 9,
         "event_type": "json_loaded", "value": "3.75"},
        # malformed value -> typed NULL, not a failed batch
        {"time": "2024-03-11 10:00:00", "event_id": 920002, "user_id": 9,
         "event_type": "json_loaded", "value": "not-a-number"},
    ]
    p.write_text("\n".join(json.dumps(r) for r in rows))
    assert ingest_file(wh, "events", str(p)) == 2
    got = {r["event_id"]: r for r in
           wh.read("events").filter("event_type = 'json_loaded'").collect()}
    assert got[920001]["value"] == 3.75
    assert got[920002]["value"] is None
    assert got[920001]["props"] is None


def test_infer_format_rejects_unknown(spark):
    from yupana_spark.sources.files import infer_format

    assert infer_format("/data/x.parquet") == "parquet"
    with pytest.raises(ValueError):
        infer_format("/data/x.avro")


def test_parallel_read_splits_single_row_group(spark, tmp_path):
    """Fact-sized single-row-group files are re-ingested once per session
    into time-sorted multi-file parquet (schema._parallel_read), each
    slice under ``__tmin=…/__tmax=…`` partition directories bracketing
    its time range; small files and already-split files are returned
    as-is; writes invalidate."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    import os

    from yupana_spark import memo
    from yupana_spark.schema import (SLICE_HI, SLICE_LO, cached_parquet,
                                     invalidate_parquet_cache)

    def read_root(df):
        return {f.replace("file://", "").split(f"/{SLICE_LO}=")[0]
                for f in df.inputFiles()}

    n = 60_000
    src = str(tmp_path / "fact.parquet")
    pq.write_table(pa.table({
        "ts": pa.array(range(n, 0, -1), type=pa.timestamp("us")),  # reverse
        "v": pa.array(range(n), type=pa.int64()),
    }), src)
    assert pq.ParquetFile(src).num_row_groups == 1

    df = cached_parquet(spark, src, time_col="ts")
    (out_dir,) = read_root(df)
    assert out_dir != str(tmp_path), "fact-sized file must be re-ingested"
    parts = sorted((f, d) for d, _, fs in os.walk(out_dir) for f in fs
                   if f.endswith(".parquet"))
    assert len(parts) >= 4  # split into multiple files
    # every file's min >= previous file's max: globally time-sorted
    # layout; its partition directories bracket its own min and max
    epoch = dt.datetime(1970, 1, 1)
    stats = []
    for f, d in parts:
        md = pq.ParquetFile(os.path.join(d, f)).metadata
        col = md.row_group(0).column(0).statistics
        stats.append((col.min, col.max))
        rng = dict(p.split("=") for p in d.split("/") if "=" in p)
        assert int(rng[SLICE_LO]) == (col.min - epoch) // dt.timedelta(
            microseconds=1)
        assert int(rng[SLICE_HI]) == (col.max - epoch) // dt.timedelta(
            microseconds=1)
    for (lo_a, hi_a), (lo_b, hi_b) in zip(stats, stats[1:]):
        assert hi_a <= lo_b
    # same row set, nothing lost or duplicated
    agg = df.selectExpr("sum(unix_micros(CAST(ts AS TIMESTAMP)))",
                        "sum(v)").collect()[0]
    assert agg[0] == n * (n + 1) // 2 and agg[1] == n * (n - 1) // 2
    assert df.count() == n

    # small file: untouched (no rewrite entry)
    small = str(tmp_path / "dim.parquet")
    pq.write_table(pa.table({"k": pa.array(range(10))}), small)
    assert read_root(cached_parquet(spark, small)) == {str(small)}

    # invalidation drops the memoized read and with it the rewrite: the
    # next read re-ingests into a fresh directory
    invalidate_parquet_cache(src)
    assert memo.peek("parquet", (src,)) is None
    assert read_root(cached_parquet(spark, src, time_col="ts")) != {out_dir}


def test_ingest_gzip_jsonl(spark, wh, tmp_path):
    """Compressed batches: Spark's json reader decompresses .gz
    transparently; the connector only has to see through the compression
    extension when inferring the format."""
    import gzip

    from yupana_spark.sources.files import infer_format, ingest_file

    assert infer_format("a/b/batch.jsonl.gz") == "json"
    assert infer_format("a/b/batch.csv.bz2") == "csv"

    p = tmp_path / "batch.jsonl.gz"
    rows = [{"ts": "2024-03-12 09:00:00", "event_id": 930001, "user_id": 3,
             "event_type": "gz_loaded", "value": 9.5}]
    with gzip.open(p, "wt") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    assert ingest_file(wh, "events", str(p)) == 1
    got = wh.read("events").filter("event_type = 'gz_loaded'").collect()
    assert [(r["event_id"], r["value"]) for r in got] == [(930001, 9.5)]


def test_ingest_orc(spark, wh, tmp_path):
    """ORC connector: same schema projection / try_cast quarantine /
    standard write path as the other formats (ORC is a Spark built-in,
    so the connector costs one extension mapping)."""
    from yupana_spark.sources.files import ingest_file

    src = tmp_path / "orc_src"
    spark.createDataFrame(
        [("2024-03-11 10:00:00", 920001, 7, "orc_loaded", 3.5, "drop-me"),
         ("2024-03-11 11:00:00", 920002, 8, "orc_loaded", "bad", "x")],
        "ts string, event_id long, user_id long, event_type string, "
        "value string, extra_col string").coalesce(1) \
        .write.mode("overwrite").orc(str(src))
    import glob
    import shutil

    part = glob.glob(str(src / "part-*.orc"))[0]
    p = tmp_path / "batch.orc"
    shutil.copyfile(part, str(p))
    n = ingest_file(wh, "events", str(p))
    assert n == 2
    got = (wh.read("events").filter("event_type = 'orc_loaded'")
           .orderBy("event_id").collect())
    # malformed 'bad' value quarantines to NULL, row still lands
    assert [(r["event_id"], r["value"]) for r in got] == \
        [(920001, 3.5), (920002, None)]
