"""Write path: put / UPSERT / warehouse storage.

Reference: TsdbBase.scala:362-413 (``put(dataPoints)`` upserts cells keyed by
(time, dims)), SqlParser.scala:326-334 + SqlQueryProcessor.scala:86-117
(``UPSERT INTO t (cols) VALUES ...``), ChangelogDao (update-intervals
bookkeeping, TsdbBase.scala:415-423).

Spark design: a Warehouse directory holds one parquet dataset per table.
One bucket rule: a table with a ``time`` column is partitioned by
``__month``, the month of ``time`` (the schema's ``rowTimeSpan`` is not
used yet); this module is the only one that knows the column, and
``Warehouse.read`` drops it.  Upsert = key-based merge (existing rows
whose primary key collides with incoming rows are replaced) implemented as
``left_anti`` + ``unionByName``.  One commit path: ``upsert``,
``write_table``, ``compact`` and the rollups' writes all go through
``Warehouse._write``, which rewrites the WHOLE table into a
``<table>.tmp.<hex>`` sibling and swaps it in (a failed write removes the
sibling; the next commit sweeps ``.old`` dirs and stale ``.tmp`` ones).
On a production lake this maps onto Delta/Iceberg MERGE; plain parquet is
used here because Delta is not a dependency.

A steady upsert runs three Spark jobs: one summary action over the
cached, deduplicated batch (its row count, each dictionary dim's values
capped at ``DICT_CAP + 1``, the touched days), the broadcast of its keys
and the table write.  A batch estimated above ``SUMMARY_VALUES_BYTES``
collects its dictionary values per dim instead, through a spillable
distinct.  The dictionaries and the changelog are bounded and
written on the driver with pyarrow; the changelog is read back the same
way, so SHOW UPDATES_INTERVALS and a recalc's dirty-day lookup run no job.

Reads are resolved once per commit: each commit pins the table's schema
in a sidecar, and ``Warehouse.read`` lists a table's files under that
schema once (one memo entry per table directory, dropped by the next
commit), so reads between two commits share one listing and none runs a
schema-inference job.  A statement's time range keeps only the month
buckets it overlaps (``Warehouse.read(table, time_bounds)``): a
partition filter, evaluated when the file index is pruned.  A frame
still running when the next commit swaps the directory fails on the
files it listed.
"""

from __future__ import annotations

import dataclasses as _dataclasses
import datetime as _dt
import decimal as _decimal
import json
import os
import shutil
import tempfile
import threading
import uuid
from typing import Any, Dict, Iterable, Optional, Sequence

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .. import memo
from ..schema import Schema, Table
from ..session import posture, rehome

BUCKET_COL = "__month"
CHANGELOG = "_changelog"
# sidecar carrying a content-identical rewrite's pre-compact artifact
# token (compact() writes it; any content-changing write swaps it away)
TOKEN_PIN = "__token_pin"
# sidecar holding the schema a read of the directory would infer (every
# commit writes it): reads take it instead of running an inference job
SCHEMA_PIN = "__schema_pin"
# the changelog's columns; a file written before ``updated_by`` existed
# reads it back as NULL
CHANGELOG_SCHEMA = T.StructType([
    T.StructField("day", T.TimestampType()),
    T.StructField("table_name", T.StringType()),
    T.StructField("updated_at", T.TimestampType()),
    T.StructField("updated_by", T.StringType()),
])
_CHANGELOG_ARROW = to_arrow_schema(CHANGELOG_SCHEMA)
_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)


def table_bytes(schema: Schema, sf_dir: str, wh, table: str) -> int:
    """On-disk bytes of ``table``'s live source (``wh``'s copy, else the
    fixture), memoized; unknown counts as big (the full posture)."""
    # keyed by the LIVE warehouse root (distinct tmpdirs per default
    # instance must not share sizes); warehouse writes invalidate their
    # table's entry, and a stat that raced the write is not kept
    root = wh.root if wh is not None else None
    return memo.get("table_bytes", (sf_dir, root, table),
                    lambda: _stat_bytes(schema, sf_dir, wh, table))


def _stat_bytes(schema: Schema, sf_dir: str, wh, table: str) -> int:
    try:
        if wh is not None and wh.exists(table):
            path = wh.path(table)     # ad-hoc tables need no schema entry
        else:
            t = schema.table(table)
            path = os.path.join(sf_dir, t.path or f"{table}.parquet")
        if os.path.isdir(path):
            # a warehouse table's files sit in its bucket directories
            return sum(os.path.getsize(os.path.join(d, f))
                       for d, _, files in os.walk(path) for f in files)
        return os.path.getsize(path)
    except OSError:
        return 1 << 62


_DEC38 = _decimal.Context(prec=38, rounding=_decimal.ROUND_HALF_UP)


def _coerce(v, dtype: T.DataType):
    """A SQL literal (Decimal/int) aligned to its column type (≙ implicit
    const coercion, DataTypeUtils.scala:40-123); decimals round half-up
    to the column's scale, as Spark's own conversion does."""
    if v is None:
        return None
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return float(v)
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType,
                          T.ByteType)):
        return int(v)
    if isinstance(dtype, T.DecimalType):
        return _decimal.Decimal(str(v)).quantize(
            _decimal.Decimal(1).scaleb(-dtype.scale), context=_DEC38)
    return v


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` nullable at every level, as parquet schema inference
    returns a written type."""
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType),
                                           True, f.metadata) for f in dt])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType),
                         True)
    return dt


def _write_dir(out: DataFrame, tmp: str, partition_by: Sequence[str] = (),
               max_records_per_file: int = 0) -> None:
    """Write ``out`` as a parquet directory at ``tmp`` and pin the schema
    a read of it infers (data columns, then the partition columns)."""
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(tmp)
    schema = out.schema
    fields = ([f for f in schema if f.name not in partition_by]
              + [schema[c] for c in partition_by])
    with open(os.path.join(tmp, SCHEMA_PIN), "w") as f:
        f.write(_nullable(T.StructType(fields)).json())


def _read_dir(spark: SparkSession, path: str) -> DataFrame:
    """The parquet directory at ``path`` under its pinned schema; a
    directory written without a pin has its schema inferred."""
    try:
        with open(os.path.join(path, SCHEMA_PIN)) as f:
            pinned = T.StructType.fromJson(json.load(f))
    except FileNotFoundError:
        return spark.read.parquet(path)
    return spark.read.schema(pinned).parquet(path)


def _bucket_overlap(time_bounds):
    """Month buckets that overlap the bounds (inclusively: a superset, the
    statement's own filter is exact), as one SQL predicate.  A bound
    converts to epoch micros as ``F.lit`` would; the lower one truncates
    in Spark, in the session time zone the buckets were cut in."""
    lo, hi = time_bounds
    conds = []
    if lo is not None:
        conds.append(f"{BUCKET_COL} >= date_trunc('month', timestamp_micros("
                     f"{T.TimestampType().toInternal(lo[0])}))")
    if hi is not None:
        conds.append(f"{BUCKET_COL} <= timestamp_micros("
                     f"{T.TimestampType().toInternal(hi[0])})")
    return F.expr(" AND ".join(conds))


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of ``df`` (no job; the estimate a
    broadcast decision uses, unknown sizes read as Long.MaxValue)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _read_changelog_file(path: str) -> pa.Table:
    """One changelog file under ``CHANGELOG_SCHEMA``: a Spark-written
    file's INT96 timestamps are read as microseconds in UTC and a missing
    ``updated_by`` reads as NULL."""
    import pyarrow.parquet as pq

    part = pq.read_table(path, coerce_int96_timestamp_unit="us")
    return pa.table(
        [part.column(f.name).cast(f.type) if f.name in part.column_names
         else pa.nulls(part.num_rows, f.type) for f in _CHANGELOG_ARROW],
        schema=_CHANGELOG_ARROW)


class _ChangelogRead:
    """The changelog files of one directory read so far, and their rows."""

    def __init__(self):
        self.lock = threading.Lock()
        self.names: frozenset = frozenset()
        self.rows = _CHANGELOG_ARROW.empty_table()


def _read_changelog(path: str) -> pa.Table:
    """Every changelog file under ``path`` as one Arrow table under
    ``CHANGELOG_SCHEMA``.  Hidden and ``_``-prefixed names (in-flight
    temp files, ``_SUCCESS``) are skipped.  Each file is read once per
    process: a memo entry per directory keeps the rows read so far, and
    a call reads only the names it has not seen; a file that vanished
    (the directory was rewritten) makes it read everything again."""
    seen = memo.get("changelog", (path,), _ChangelogRead)
    with seen.lock:
        names = frozenset(
            n for n in (os.listdir(path) if os.path.isdir(path) else ())
            if not n.startswith((".", "_")) and n.endswith(".parquet"))
        if not seen.names <= names:
            seen.names, seen.rows = frozenset(), _CHANGELOG_ARROW.empty_table()
        fresh = sorted(names - seen.names)
        if fresh:
            seen.rows = pa.concat_tables(
                [seen.rows] + [_read_changelog_file(os.path.join(path, n))
                               for n in fresh]).combine_chunks()
            seen.names = names
        return seen.rows


def _item_fixer_udf(fn):
    """Vectorized (Arrow) wrapper for the schema's item_fixer hook; memoized
    per hook so repeated upserts reuse one UDF registration."""

    def build():
        @F.pandas_udf(T.StringType())
        def fixer(s: pd.Series) -> pd.Series:
            return s.map(lambda v: None if v is None else fn(v))

        return fixer

    return memo.get("item_fixer_udf", (fn,), build)


@_dataclasses.dataclass
class UpdatesIntervalsFilter:
    """SHOW UPDATES_INTERVALS WHERE surface (UpdatesIntervalsProvider.scala
    :95-117 ``UpdatesIntervalsFilter``): the provider accepts exactly
    ``table = s``, ``updated_at BETWEEN a AND b``, ``recalculated_at
    BETWEEN a AND b``, ``recalculated_at >= a`` and ``updated_by = s``
    (AND-combined); anything else is an "Unsupported condition"."""

    table_name: Optional[str] = None
    updated_after: Optional[_dt.datetime] = None
    updated_before: Optional[_dt.datetime] = None
    recalculated_after: Optional[_dt.datetime] = None
    recalculated_before: Optional[_dt.datetime] = None
    updated_by: Optional[str] = None


class Warehouse:
    """Writable table store layered over the read-only sf_dir fixtures."""

    def __init__(self, spark: SparkSession, schema: Schema, sf_dir: str,
                 root: Optional[str] = None, user: str = "anonymous"):
        self.spark = spark
        self.schema = schema
        self.sf_dir = sf_dir
        self.root = root or tempfile.mkdtemp(prefix="yupana_wh_")
        # ≙ the authenticated principal the reference stamps on every
        # changelog row (UpdateInterval.updatedBy); auth itself is out of
        # scope, so the writer identity is a plain constructor knob
        self.user = user

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def artifact_store(self):
        """Fitted-artifact store under THIS warehouse root (≙ the
        reference materializing its inverted index next to the data,
        ItemsInvertedIndexImpl.scala): LM vocabularies, codebooks, merge
        tables and signature indexes fit once per corpus version and
        survive engine restarts over the same root."""
        from ..datapipe.artifacts import ArtifactStore

        return ArtifactStore(os.path.join(self.root, "_artifacts"))

    def table_token(self, table: str) -> str:
        """Corpus version fingerprint for ``table`` — the LIVE source: the
        warehouse copy when the table has been written, else the sf_dir
        fixture.  Any CONTENT-changing write through this warehouse
        changes it, which is the artifact invalidation contract; a
        ``compact()`` re-layout pins the pre-compact token in a sidecar
        (content identical ⇒ fitted artifacts stay valid) and the next
        real write swaps the sidecar away."""
        from ..datapipe.artifacts import corpus_token

        if self.exists(table):
            pin = os.path.join(self.path(table), TOKEN_PIN)
            if os.path.exists(pin):
                with open(pin) as f:
                    return f.read().strip()
            return corpus_token(self.path(table))
        return corpus_token(os.path.join(self.sf_dir, f"{table}.parquet"))

    def exists(self, table: str) -> bool:
        return os.path.exists(self.path(table))

    def session_for(self, table: str) -> SparkSession:
        """The posture session for work over ``table`` (Tsdb.query's gate)."""
        return posture(self.spark,
                       table_bytes(self.schema, self.sf_dir, self, table))

    def snapshot(self, table: str) -> DataFrame:
        """The committed warehouse copy of ``table`` with its bucket
        column, resolved once per commit: the frame is memoized per table
        directory and each commit's swap drops it."""
        path = self.path(table)
        return memo.get("wh_read", (path,),
                        lambda: _read_dir(self.spark, path))

    def read(self, table: str, time_bounds=None) -> DataFrame:
        """Warehouse copy if the table was written, else the sf_dir fixture,
        rooted in the table's posture session.  ``time_bounds`` (as for
        ``Schema.load``) keeps the month buckets that overlap them: a
        partition filter, evaluated when the file index is pruned."""
        if self.exists(table):
            df = self.snapshot(table)
            if BUCKET_COL in df.columns:
                if time_bounds is not None:
                    df = df.filter(_bucket_overlap(time_bounds))
                df = df.drop(BUCKET_COL)
        else:
            df = self.schema.load(self.spark, self.sf_dir, table,
                                  time_bounds=time_bounds)
        return rehome(df, self.session_for(table))

    # -- core upsert -----------------------------------------------------------
    def upsert(self, table: str, incoming: DataFrame,
               keys: Optional[Sequence[str]] = None) -> int:
        """Merge ``incoming`` into ``table`` by primary key (time + dims)."""
        t = self.schema.table(table)
        if keys is None:
            keys = ["time"] + [d.name for d in t.dimensions]
        current = self.read(table)
        # the merge, the dictionary and the changelog writes all derive
        # from these two frames, so they run on the table's posture
        incoming = rehome(incoming, current.sparkSession)
        for c in current.columns:
            if c not in incoming.columns:
                incoming = incoming.withColumn(c, F.lit(None).cast(
                    current.schema[c].dataType))
        incoming = incoming.select(*current.columns)
        # ItemFixer: canonicalize item-like (hash) dimension values before
        # they become part of the row key (Schema.scala itemFixer).  Arrow-
        # batched pandas_udf: ingest is a hot path and a row-at-a-time
        # Python UDF would pickle per cell.
        if self.schema.item_fixer is not None:
            fixer = _item_fixer_udf(self.schema.item_fixer)
            for d in t.dimensions:
                if d.kind == "hash" and d.name in incoming.columns:
                    incoming = incoming.withColumn(d.name, fixer(F.col(d.name)))
        # last-write-wins inside the batch too (HBase put semantics: later
        # cells overwrite earlier ones at the same row key)
        from pyspark.sql import Window

        incoming = incoming.withColumn("__seq", F.monotonically_increasing_id())
        w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
            F.col("__seq").desc())
        incoming = (incoming.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1).drop("__rn", "__seq"))
        incoming = incoming.cache()
        try:
            # one action for every driver-side fact of the batch: its row
            # count, each dictionary dim's values (capped so a batch over
            # the cap still demotes) and the touched days as UTC epoch
            # micros (independent of the Python time zone).  collect_set
            # builds a dim's whole value set in one task without spilling,
            # so only a batch estimated small enough gathers its values
            # there; a larger one collects each dim's values through a
            # spillable distinct capped by a limit
            dims = [d.name for d in t.dimensions
                    if d.kind == "dictionary" and d.name in incoming.columns
                    and not os.path.exists(
                        self.dict_path(t.name, d.name) + ".demoted")]
            in_summary = dims if _estimated_bytes(incoming) <= \
                self.SUMMARY_VALUES_BYTES else []
            aggs = [F.count(F.lit(1))]
            aggs += [F.slice(F.collect_set(F.col(d)), 1, self.DICT_CAP + 1)
                     for d in in_summary]
            if "time" in incoming.columns:
                aggs.append(F.collect_set(F.unix_micros(
                    F.date_trunc("day", F.col("time")))))
            summary = incoming.agg(*aggs).collect()[0]
            n_in = summary[0]
            values = dict(zip(in_summary, summary[1:1 + len(in_summary)]))
            for d in dims[len(in_summary):]:
                values[d] = [r[0] for r in incoming.select(d)
                             .where(F.col(d).isNotNull()).distinct()
                             .limit(self.DICT_CAP + 1).collect()]
            # null-safe key equality: dims may be NULL and plain equality
            # would keep stale rows (SQL NULL != NULL); eqNullSafe matches
            # HBase's byte-identical row keys.  The last-write-wins window
            # already left one row per key, so the key side needs no
            # distinct.
            cur = current.alias("cur")
            inc = incoming.select(*keys).alias("inc")
            cond = None
            for k in keys:
                c = F.col(f"cur.{k}").eqNullSafe(F.col(f"inc.{k}"))
                cond = c if cond is None else (cond & c)
            kept = cur.join(inc, cond, "left_anti")
            merged = kept.unionByName(incoming)
            # ingest-time dictionary ids (Dictionary.scala insertion
            # semantics) must be assigned from the PRE-merge state so
            # replays are no-ops
            self._update_dictionaries(t, current, values)
            self._write(table, merged)
            if "time" in incoming.columns:
                self._log_interval(table, summary[-1])
        finally:
            incoming.unpersist()
        return n_in

    def put_rows(self, table: str, rows: Iterable[Dict[str, Any]]) -> int:
        """``put(dataPoints)`` — dict rows keyed by column name."""
        t = self.schema.table(table)
        current = self.read(table)
        df = self.spark.createDataFrame(list(rows), schema=current.schema)
        return self.upsert(table, df)

    def upsert_values(self, table: str, columns: Sequence[str],
                      rows: Sequence[Sequence[Any]]) -> int:
        """SQL ``UPSERT INTO t (cols) VALUES ...`` (SqlParser.scala:326-334)."""
        t = self.schema.table(table)
        current = self.read(table)
        cols = list(columns)
        fields = []
        for c in cols:
            src = "time" if c == "time" else c
            fields.append(current.schema[src] if src in current.columns
                          else T.StructField(c, T.StringType()))
        schema = T.StructType([T.StructField(c, f.dataType)
                               for c, f in zip(cols, fields)])
        # an Arrow-built LocalRelation: a row list would become a Python
        # RDD, and the merge's cache+count would run it through Python
        # workers
        arrow = to_arrow_schema(schema)
        df = self.spark.createDataFrame(pa.Table.from_arrays(
            [pa.array([_coerce(r[i], f.dataType) for r in rows], type=a.type)
             for i, (f, a) in enumerate(zip(schema, arrow))],
            schema=arrow), schema)
        if t.time_column != "time" and "time" in df.columns:
            df = df.withColumnRenamed("time", t.time_column) \
                   .withColumn("time", F.col(t.time_column))
        return self.upsert(table, df)

    def write_table(self, table: str, df: DataFrame) -> None:
        """Full (re)write of ``table`` (month buckets of ``time``)."""
        self._write(table, df)

    # -- persisted dictionaries (Dictionary.scala:24-105) --------------------
    DICT_CAP = 100_000  # beyond this a dim is not dictionary-shaped
    # largest estimated batch size whose dictionary values the upsert's
    # summary action gathers (a steady 200-row UPSERT is ~10 KB)
    SUMMARY_VALUES_BYTES = 4 << 20
    # stale .tmp siblings younger than this are presumed to be another
    # writer's in-flight work and left alone by the sweep
    SWEEP_AGE_S = 3600.0

    def dict_path(self, table: str, dim: str) -> str:
        return os.path.join(self.root, "__dictionary", table,
                            f"{dim}.parquet")

    def load_dictionary(self, table: str, dim: str):
        """{value: id} for a persisted ingest-time dictionary, or None
        (never ingested, or demoted after outgrowing DICT_CAP)."""
        import pyarrow.parquet as pq

        path = self.dict_path(table, dim)
        if os.path.exists(path + ".demoted") or not os.path.exists(path):
            return None
        d = pq.read_table(path).to_pydict()
        return dict(zip(d["value"], d["id"]))

    def _demote_dictionary(self, table: str, dim: str) -> None:
        """A dim that outgrew DICT_CAP is not dictionary-shaped: DELETE the
        persisted mapping (so every value falls back to one consistent id
        rule instead of a silent dense-ids-for-old / hash-ids-for-new mix —
        round-4 advice) and leave a marker so later batches never re-seed."""
        path = self.dict_path(table, dim)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".demoted", "w") as fh:
            fh.write("dictionary demoted: exceeded DICT_CAP "
                     f"{self.DICT_CAP}\n")
        if os.path.exists(path):
            os.remove(path)

    def _update_dictionaries(self, t: Table, current: DataFrame,
                             batch_values: Dict[str, Sequence[Any]]) -> None:
        """Maintain ingest-time dictionaries for dictionary-kind dims.

        ≙ Dictionary.scala:24-105: the reference numbers values by insertion
        order as rows arrive.  Distributed ingest has no row order inside a
        batch, so the deterministic analogue is: first batch seeds from the
        PRE-upsert table in sorted-value order (keeping the recomputed
        sorted-id semantics of id() for never-ingested fixtures), and each
        batch's genuinely-new values append after the existing maximum,
        sorted within the batch.  Ids are append-only: replaying a batch or
        re-ingesting known values never renumbers anything.  Driver-side
        pyarrow files — dictionaries are bounded (DICT_CAP) by definition.

        ``batch_values`` maps each non-demoted dictionary dim of the batch
        to its distinct non-NULL values, at most ``DICT_CAP + 1`` of them:
        for a batch of at most ``SUMMARY_VALUES_BYTES`` (estimated),
        ``upsert``'s one summary action collects them with the row count
        and the touched days, so no dim costs a job of its own.
        """
        import pyarrow.parquet as pq

        for name, values in batch_values.items():
            mapping = self.load_dictionary(t.name, name)
            if mapping is None:
                seed = (current.select(name).distinct()
                        .limit(self.DICT_CAP + 1).collect())
                if len(seed) > self.DICT_CAP:
                    self._demote_dictionary(t.name, name)
                    continue
                ordered = sorted(r[0] for r in seed if r[0] is not None)
                mapping = {v: i + 1 for i, v in enumerate(ordered)}
            fresh = sorted(v for v in values if v not in mapping)
            if len(mapping) + len(fresh) > self.DICT_CAP:
                self._demote_dictionary(t.name, name)
                continue
            next_id = max(mapping.values(), default=0) + 1
            for v in fresh:
                mapping[v] = next_id
                next_id += 1
            path = self.dict_path(t.name, name)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(pa.table({
                "value": list(mapping.keys()),
                "id": list(mapping.values()),
            }), path)

    # -- internals ---------------------------------------------------------------
    def _write(self, table: str, df: DataFrame, max_records_per_file: int = 0,
               token: Optional[str] = None) -> None:
        """The one commit: write ``df`` to a ``<table>.tmp.<hex>`` sibling
        and swap it in as ``table``.  A frame with ``time`` is bucketed by
        month of ``time`` (a ``__month`` it already has is kept, so a
        re-layout does not re-cut buckets); ``token`` pins the artifact
        token of a content-identical rewrite.  A write that fails before
        the swap removes its sibling."""
        tmp = f"{self.path(table)}.tmp.{uuid.uuid4().hex[:8]}"
        if "time" in df.columns and BUCKET_COL not in df.columns:
            # month buckets: coarse enough to avoid small-file explosion at
            # test scale; Table.row_time_span_days is not used yet
            df = df.withColumn(BUCKET_COL,
                               F.date_trunc("month", F.col("time")))
        try:
            _write_dir(df, tmp,
                       [BUCKET_COL] if BUCKET_COL in df.columns else [],
                       max_records_per_file)
            if token is not None:
                with open(os.path.join(tmp, TOKEN_PIN), "w") as f:
                    f.write(token)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        self._swap_and_invalidate(table, tmp)

    def _swap_and_invalidate(self, table: str, tmp: str) -> None:
        """Install ``tmp`` as the live table dir and purge volume caches.

        Two adjacent renames (old out, new in) instead of rmtree+rename:
        the not-exists window shrinks from an unbounded directory delete
        to microseconds, and a crash between the renames leaves the data
        recoverable in the ``.old`` dir instead of gone.  A concurrent
        reader in that window still falls back to the fixture — callers
        that need stronger isolation must serialize writes with reads
        (the reference's HBase gets this from region-server atomicity).
        """
        import glob as _glob
        import logging as _logging

        final = self.path(table)
        # opportunistic sweep: a failed delete below leaks the `.old` dir
        # (and a killed writer leaks its `.tmp` dir) — without this
        # repeated commits would accumulate full table copies inside the
        # warehouse forever.
        # * `.old.*` dirs are ALWAYS safe to sweep: they are the target
        #   of a completed rename and nothing ever writes into one.
        # * `.tmp.*` may be another writer's IN-FLIGHT job, and the
        #   top-level mtime freezes at job start (Spark tasks write under
        #   _temporary/) — so the age guard uses the NEWEST mtime in the
        #   tree (task/attempt churn keeps updating deep entries while the
        #   job lives; a crashed job's tree goes quiet and ages past the
        #   horizon).
        import time as _time

        horizon = _time.time() - self.SWEEP_AGE_S

        def _last_activity(path: str) -> float:
            newest = 0.0
            n = 0
            for root, dirs, files in os.walk(path):
                for name in [""] + dirs + files:
                    try:
                        newest = max(newest, os.path.getmtime(
                            os.path.join(root, name) if name else root))
                    except OSError:
                        pass
                    n += 1
                    if n > 10_000:          # bound the walk; err young
                        return _time.time()
            return newest

        for stale in _glob.glob(final + ".old.*"):
            shutil.rmtree(stale, ignore_errors=True)
        for stale in _glob.glob(final + ".tmp.*"):
            if stale != tmp and _last_activity(stale) <= horizon:
                shutil.rmtree(stale, ignore_errors=True)
        old = None
        if os.path.exists(final):
            old = final + ".old." + uuid.uuid4().hex[:8]
            os.rename(final, old)
        os.rename(tmp, final)
        if old is not None:
            try:
                shutil.rmtree(old)
            except OSError as e:
                _logging.getLogger(__name__).warning(
                    "delete of %s failed (%s) — leaving it for the next "
                    "write of %r to sweep", old, e, table)
        # the table's snapshot read and volume-gate entries are now stale:
        # the next query must list the new files and re-stat the warehouse
        # copy, or the posture gate would keep the pre-write posture for a
        # much larger table (a read or stat in flight across the swap is
        # not kept either)
        memo.invalidate("wh_read", lambda p: p[0] == final)
        memo.invalidate("table_bytes",
                        lambda p: p[1] == self.root and p[2] == table)

    def compact(self, table: str, max_records_per_file: int = 0) -> dict:
        """Rewrite ``table`` with one output file per time-bucket partition
        (optionally re-split by ``max_records_per_file``), atomically.

        Each upsert's shuffle writes one file per task per month bucket, so
        a frequently-merged table accumulates many small parquet files per
        partition — the scan then pays per-file open/footer costs and the
        driver pays per-file listing (the classic small-file problem; the
        reference's HBase storage compacts regions itself, a parquet
        warehouse must do it explicitly).  Content is bit-identical: this
        is a physical re-layout, not a merge.

        Content is identical, so the table's artifact token is PINNED
        across the rewrite (``table_token`` returns the pre-compact token
        from a sidecar): fitted artifacts (LM vocabularies, codebooks,
        signature indexes) stay valid — a content-changing write swaps the
        sidecar away and invalidates as before.

        Returns {"files_before": n, "files_after": m} for auditing."""
        if not self.exists(table):
            raise KeyError(f"no warehouse copy of {table} to compact")
        path = self.path(table)

        def _nfiles() -> int:
            return sum(1 for _, _, fs in os.walk(path)
                       for f in fs if f.endswith(".parquet"))

        before = _nfiles()
        pinned = self.table_token(table)   # content-identical: keep it
        df = rehome(self.snapshot(table), self.session_for(table))
        if BUCKET_COL in df.columns:
            # one shuffle partition per bucket -> one file per partition
            # dir (AQE coalesces the empty ones); rows time-sorted inside
            # each file so parquet row-group min/max stats prune literal
            # time filters (a recalc's bucket ranges) tighter than the
            # month bucket alone.  The bucket values are kept as they are
            out = (df.repartition(F.col(BUCKET_COL))
                   .sortWithinPartitions("time"))
        else:
            out = df.coalesce(1)
        self._write(table, out, max_records_per_file, token=pinned)
        return {"files_before": before, "files_after": _nfiles()}

    def _log_interval(self, table: str, days: Sequence[int]) -> None:
        """Changelog: record which (table, day) windows were rewritten.

        ``days`` are the touched day starts as UTC epoch microseconds,
        collected by ``upsert``'s summary action.  The rows are written on
        the driver with pyarrow, one file per commit stamped with one UTC
        ``updated_at``: the file is written under a hidden name and
        renamed into place, so a reader never sees a partial file."""
        import pyarrow.parquet as pq

        if not days:
            return
        now = _dt.datetime.now(_dt.timezone.utc)
        rows = [{"day": _EPOCH + _dt.timedelta(microseconds=d),
                 "table_name": table, "updated_at": now,
                 "updated_by": self.user} for d in sorted(days)]
        path = os.path.join(self.root, CHANGELOG)
        os.makedirs(path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(path, f".{name}.tmp")
        pq.write_table(pa.Table.from_pylist(rows, schema=_CHANGELOG_ARROW),
                       tmp)
        os.rename(tmp, os.path.join(path, name))

    def updates_intervals(
            self, flt: Optional[UpdatesIntervalsFilter] = None) -> DataFrame:
        """The changelog, optionally filtered per the reference provider
        (UpdatesIntervalsProvider.scala:95-117 + ChangelogDaoHBase.scala
        :77-175 filter semantics).  Columns: (day, table_name, updated_at,
        updated_by, from_time, to_time) — the rewritten window is the day
        bucket, so from_time = day and to_time = day + 1 day (≙ the
        reference's ``time .. time + rowTimeSpan``).

        Filter mapping (mirroring the HBase DAO):
        * ``table_name`` — equality;
        * ``updated_after/before`` — ``updated_at`` BETWEEN when both
          bounds are set, ``>= after`` when only the lower is; a
          before-only bound applies NO filter (dateRangeFilter's
          ``case _ => None`` — mirrored exactly);
        * ``recalculated_after/before`` both set — the window filter:
          from_time BETWEEN a AND b, OR (from_time <= a AND to_time >= a);
          only ``recalculated_after`` — from_time >= a;
        * ``updated_by`` — equality (rows from pre-``user`` changelogs read
          back as 'anonymous': the column is NULL in their files).

        The changelog is small (one row per touched day per commit) and is
        read on the driver with pyarrow, files written by ``_log_interval``
        and legacy Spark-written ones (INT96 timestamps, possibly no
        ``updated_by``) alike.
        """
        # read on the driver into a LocalRelation: the filters below fold
        # into it, so collecting the answer runs no Spark job
        df = self.spark.createDataFrame(
            _read_changelog(os.path.join(self.root, CHANGELOG)),
            CHANGELOG_SCHEMA)
        df = (df.withColumn("updated_by",
                            F.coalesce(F.col("updated_by"),
                                       F.lit("anonymous")))
              .withColumn("from_time", F.col("day"))
              .withColumn("to_time",
                          F.col("day") + F.expr("INTERVAL 1 DAY")))
        if flt is None:
            return df
        if flt.table_name is not None:
            df = df.filter(F.col("table_name") == F.lit(flt.table_name))
        if flt.updated_after is not None and flt.updated_before is not None:
            df = df.filter(F.col("updated_at").between(
                F.lit(flt.updated_after), F.lit(flt.updated_before)))
        elif flt.updated_after is not None:
            # reference ChangelogDaoHBase.dateRangeFilter:88-142 — only
            # (Some(from), _) applies a bound alone (updated_at >= from);
            # (None, Some(to)) falls to `case _ => None`, i.e. a
            # before-only bound applies NO filter.  Mirrored exactly: the
            # admin WHERE surface only produces BETWEEN anyway, so the
            # before-only shape is reachable solely from programmatic
            # filters, where reference parity wins.
            df = df.filter(F.col("updated_at") >= F.lit(flt.updated_after))
        if flt.recalculated_after is not None:
            a = F.lit(flt.recalculated_after)
            if flt.recalculated_before is not None:
                b = F.lit(flt.recalculated_before)
                df = df.filter(F.col("from_time").between(a, b)
                               | ((F.col("from_time") <= a)
                                  & (F.col("to_time") >= a)))
            else:
                df = df.filter(F.col("from_time") >= a)
        if flt.updated_by is not None:
            df = df.filter(F.col("updated_by") == F.lit(flt.updated_by))
        return df
