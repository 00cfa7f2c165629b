"""Schema registry: Table / Dimension / Metric / ExternalLink / Schema.

Reference: yupana-api/src/main/scala/org/yupana/api/schema/
  Table.scala:31-38   (Table(name, rowTimeSpan, dimensionSeq, metrics, links))
  Dimension.scala:46-120 (Dictionary / Raw / Hash dimensions)
  Metric.scala:24-68
  ExternalLink.scala:25-48
  Schema.scala:27-39

On Spark, a Table is a parquet path plus a declared StructType; dimension
encoding (dictionary / hash) is a storage detail that parquet provides for
free, so all dimension kinds map to plain columns.  ``rowTimeSpan`` maps to
the time-bucket partition column used for partition pruning at scale.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable, Dict, Optional, Sequence, Tuple

from pyspark.sql import (Column, DataFrame, SparkSession, functions as F,
                         types as T)

from . import memo, types as yt
from .session import ensure_engine_confs


# base-DataFrame memo per path: a plain ``spark.read.parquet`` re-runs file
# listing + footer/schema resolution on EVERY call, which is the bulk of the
# fixed per-query latency at small scale (and a needless namenode/object-
# store round trip at large scale).  The cached object is an immutable
# logical plan — filters/projections compose on top per query, so pushdown
# and pruning are unaffected.  ``time_col`` only orders the one-time
# rewrite's files (see _parallel_read); the rows are the path's, so the
# path alone keys the entry.
def cached_parquet(spark: SparkSession, path: str,
                   time_col: Optional[str] = None) -> DataFrame:
    return memo.get("parquet", (path,),
                    lambda: _parallel_read(spark, path, time_col))


_SPLIT_MIN_ROWS = 50_000       # only fact-sized tables; dims broadcast anyway
_SPLIT_MAX_BYTES = 256 << 20   # fixture-shape gate — never triggers at scale
# ~32k rows/file: measured sweet spot on local[32] — light aggregates over
# 150k-row tables are SLOWER at 18 tasks than 4 (scheduling overhead >> the
# ~1 ms/task of useful work), while the 600k-row decimal-heavy scans plateau
# by ~16 tasks (8k rows/file gave 18 and 32 tasks respectively; both sides
# of the trade landed within noise of their optimum at 32k)
_SPLIT_ROWS_PER_FILE = 32_000
#: partition columns of a time-sorted slice: its smallest and largest time
#: as UTC epoch microseconds (floored and ceiled), so a time range prunes
#: slices in the file index instead of by pushed parquet statistics
SLICE_LO, SLICE_HI = "__tmin", "__tmax"
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _slice_dir(col) -> str:
    """``__tmin=<us>/__tmax=<us>`` of a timestamp column's slice."""
    import pyarrow.compute as pc

    mm = pc.min_max(col)
    lo, hi = mm["min"], mm["max"]
    if not lo.is_valid:     # all NULL: no time range matches it
        return os.path.join(f"{SLICE_LO}={_NULL_PARTITION}",
                            f"{SLICE_HI}={_NULL_PARTITION}")
    lo, hi = lo.value, hi.value
    unit = col.type.unit
    if unit == "ns":
        lo, hi = lo // 1000, -(-hi // 1000)
    else:
        scale = {"s": 10**6, "ms": 10**3, "us": 1}[unit]
        lo, hi = lo * scale, hi * scale
    return os.path.join(f"{SLICE_LO}={lo}", f"{SLICE_HI}={hi}")


def _parallel_read(spark: SparkSession, path: str,
                   time_col: Optional[str] = None) -> DataFrame:
    """Read ``path``, fixing the fixture's degenerate file layout once.

    Spark parallelizes a parquet scan by ROW GROUP; the test fixtures are
    single files with ONE row group, so every scan — however many cores —
    runs as one task (measured: 0.6 s single-threaded for the 600 k-row
    lineitem aggregate that takes ~0.15 s split 32 ways).  A real deployment
    never looks like this: ingest produces many time-sorted, size-bounded
    files (the reference stores time-keyed HBase regions,
    TSDaoHBaseBase.scala executeScans; our own upsert sink writes bucketed
    files).  Mirror that at session scope: fact-sized single-row-group
    files are re-ingested ONCE into a temp dir, range-partitioned on the
    time column, and all queries scan the copy — pushdown and column
    pruning are untouched (plain parquet scan).  Each slice of a timestamp
    time column lands under ``__tmin=…/__tmax=…`` partition directories
    recording its time range, so ``Schema.load`` prunes slices under the
    mandatory time condition with a partition filter, which is exactly
    the at-scale layout.  Small dims and multi-row-group inputs are
    returned as-is; the source files are never written.  Runs as
    the build of the path's ``cached_parquet`` entry, so concurrent first
    touches (pgwire serves connections from threads) pay one rewrite.
    """
    df = spark.read.parquet(path)
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        if (not os.path.isfile(path)
                or os.path.getsize(path) >= _SPLIT_MAX_BYTES):
            return df
        meta = pq.ParquetFile(path)
        rows = meta.metadata.num_rows
        if rows < _SPLIT_MIN_ROWS or meta.num_row_groups >= 4:
            return df
        import atexit
        import shutil
        import tempfile

        out = tempfile.mkdtemp(prefix="yupana_ingest_")
        atexit.register(shutil.rmtree, out, ignore_errors=True)
        cpus = spark.sparkContext.defaultParallelism
        nfiles = min(cpus, max(4, rows // _SPLIT_ROWS_PER_FILE))
        # driver-side pyarrow rewrite (the gate bounds it at 256 MB): one
        # read, sort by time, slice into nfiles — column types are byte-
        # identical to the source, and a Spark rewrite here would itself be
        # the one single-threaded scan we are eliminating (plus a range-
        # sampling second pass)
        tbl = pq.read_table(path)
        sliced = (time_col in tbl.column_names
                  and pa.types.is_timestamp(tbl.schema.field(time_col).type))
        if time_col and time_col in tbl.column_names:
            tbl = tbl.sort_by([(time_col, "ascending")])
        per_file = -(-rows // nfiles)
        for i in range(nfiles):
            chunk = tbl.slice(i * per_file, per_file)
            if chunk.num_rows:
                d = (os.path.join(out, _slice_dir(chunk.column(time_col)))
                     if sliced else out)
                os.makedirs(d, exist_ok=True)
                pq.write_table(chunk, os.path.join(d, f"part-{i:05d}.parquet"))
        return spark.read.parquet(out)
    except Exception:  # noqa: BLE001 — layout fixing must never fail a read
        return df


def invalidate_parquet_cache(path_prefix: str = "") -> None:
    """Drop cached reads (and with them their rewritten copies' frames)
    under a path prefix (used after writes)."""
    memo.invalidate("parquet", lambda p: p[0].startswith(path_prefix))


@dataclass(frozen=True)
class Dimension:
    name: str
    dtype: str = yt.STRING
    kind: str = "raw"  # raw | dictionary | hash — informational on Spark


@dataclass(frozen=True)
class Metric:
    name: str
    dtype: str
    group: int = 1  # 1=default, 2=rarelyQueried (column families; no-op here)


@dataclass(frozen=True)
class LinkField:
    name: str
    dtype: str = yt.STRING


@dataclass(frozen=True)
class ExternalLink:
    """Lookup/enrichment source keyed by one dimension (ExternalLink.scala).

    ``source`` loads the (small) dimension DataFrame; enrichment compiles to a
    broadcast left join, predicates on link fields compile to semi-/anti-joins
    (ExternalLinkUtils.scala:41-220).
    """

    name: str
    dimension: str  # fact-table column the link is keyed on
    key_column: str  # key column in the link source
    fields: Tuple[LinkField, ...]
    source: Callable[[SparkSession, str], DataFrame] = None  # (spark, sf_dir)
    # 'value': enrichment/equality link (broadcast left join)
    # 'index': inverted-index text search — predicates on the 'phrase' field
    #          rewrite to semi-/anti-joins (ItemsInvertedIndexImpl.scala)
    # 'related': related-items correlation — predicates rewrite to a
    #          semi-join on ``related_key`` of matching transactions
    #          (RelatedItemsCatalogImpl.scala)
    match_mode: str = "value"
    text_column: Optional[str] = None  # for index/related matching
    related_key: Optional[str] = None  # fact column identifying a receipt

    def field_type(self, fname: str) -> str:
        for f_ in self.fields:
            if f_.name == fname:
                return f_.dtype
        raise KeyError(f"link {self.name} has no field {fname}")


@dataclass(frozen=True)
class Table:
    name: str
    time_column: str  # source column holding event time
    dimensions: Tuple[Dimension, ...]
    metrics: Tuple[Metric, ...]
    external_links: Tuple[ExternalLink, ...] = ()
    row_time_span_days: int = 1  # ≙ rowTimeSpan: partition-bucket granularity
    path: Optional[str] = None  # relative parquet file under sf_dir

    def column_type(self, name: str) -> str:
        if name == "time" or name == self.time_column:
            return yt.TIMESTAMP
        for d in self.dimensions:
            if d.name == name:
                return d.dtype
        for m in self.metrics:
            if m.name == name:
                return m.dtype
        raise KeyError(f"table {self.name} has no column {name}")

    def has_column(self, name: str) -> bool:
        try:
            self.column_type(name)
            return True
        except KeyError:
            return False

    def link(self, name: str) -> ExternalLink:
        for l in self.external_links:
            if l.name == name:
                return l
        raise KeyError(f"table {self.name} has no external link {name}")


@dataclass
class Schema:
    """Catalog of tables + per-schema text hooks (Schema.scala:27-39:
    ``Schema(tables, rollups, tokenizer, transliterator, itemFixer)``).
    Loads parquet lazily per table.

    - ``tokenizer``: str -> list[str], used by the ``tokens`` function and
      the inverted-index link (default: RU light stemmer + transliteration)
    - ``transliterator``: str -> str for prefix terms
    - ``item_fixer``: canonicalizes item-like (hash-kind) dimension values at
      ingest (≙ ItemFixer applied before hashing item names)
    """

    tables: Dict[str, Table] = field(default_factory=dict)
    tokenizer: Optional[Callable[[str], list]] = None
    transliterator: Optional[Callable[[str], str]] = None
    item_fixer: Optional[Callable[[str], str]] = None

    def add(self, t: Table) -> "Schema":
        self.tables[t.name] = t
        return self

    def table(self, name: str) -> Table:
        if name not in self.tables:
            raise KeyError(f"unknown table {name}")
        return self.tables[name]

    def _source(self, spark: SparkSession, sf_dir: str,
                t: Table) -> DataFrame:
        # some sources write TIMESTAMP(NANOS) which Spark's vectorized reader
        # rejects: the engine confs read nanos as long and load converts
        # (integer division keeps the full 64-bit precision — going through
        # double would corrupt it)
        ensure_engine_confs(spark)
        path = os.path.join(sf_dir, t.path or f"{t.name}.parquet")
        return cached_parquet(spark, path, time_col=t.time_column)

    def time_sliced(self, spark: SparkSession, sf_dir: str,
                    name: str) -> bool:
        """Whether ``load`` prunes the table's time-sliced copy by
        partition filters (the memoized frame caches its schema: no round
        trip per statement)."""
        return SLICE_LO in self._source(spark, sf_dir,
                                        self.table(name)).columns

    def load(self, spark: SparkSession, sf_dir: str, name: str,
             time_bounds=None) -> DataFrame:
        """Read the table and expose its time column as ``time``.

        The read stays a plain parquet scan so Catalyst keeps predicate
        pushdown and column pruning (PushedFilters / ReadSchema).

        ``time_bounds`` — optional ((lo, lo_strict), (hi, hi_inclusive))
        from the query's mandatory time condition (compiler
        _extract_time_bounds).  A time-sliced copy (``_parallel_read``)
        keeps only the slices whose ``__tmin``/``__tmax`` range overlaps
        the bounds: a partition filter, evaluated in the file index, so
        the statement's generated code does not depend on the bounds.  On
        any other source the statement's own time filter is pushed to the
        parquet row groups (at 100 TB this is the difference between
        pruning and a full scan); for nanos-as-long sources the converted
        ``time`` column hides the raw column from pushdown, so the bounds
        are re-expressed over the raw int64 BEFORE the conversion
        projection.  The conversion is EXACT, not just a superset: the
        queryable ``time`` column is ``raw div 1000`` micros, so ``time OP
        bound`` maps one-to-one onto a raw-nanos comparison at microsecond
        precision (inclusive/strict operators shift the bound by one
        micro).
        """
        t = self.table(name)
        df = self._source(spark, sf_dir, t)
        tcol_type = df.schema[t.time_column].dataType
        sliced = SLICE_LO in df.columns
        if sliced:
            if time_bounds is not None:
                df = df.filter(_slice_overlap(time_bounds))
            df = df.drop(SLICE_LO, SLICE_HI)
        if isinstance(tcol_type, T.LongType):
            if time_bounds is not None and not sliced:
                import calendar

                def _us(d):
                    return calendar.timegm(d.timetuple()) * 10**6 + d.microsecond

                lo, hi = time_bounds
                if lo is not None:
                    v, strict = lo
                    # time = raw div 1000 (micros).  time >= v  <=>
                    # raw >= v_us*1000;  time > v  <=>  raw >= (v_us+1)*1000
                    ns = (_us(v) + (1 if strict else 0)) * 1000
                    df = df.filter(F.col(t.time_column) >= F.lit(ns))
                if hi is not None:
                    v, inclusive = hi
                    # time < v  <=>  raw < v_us*1000;  time <= v  <=>
                    # raw < (v_us+1)*1000
                    ns = (_us(v) + (1 if inclusive else 0)) * 1000
                    df = df.filter(F.col(t.time_column) < F.lit(ns))
            df = df.withColumn(
                t.time_column,
                F.expr(f"timestamp_micros({t.time_column} div 1000)"),
            )
        if t.time_column != "time":
            df = df.withColumn("time", F.col(t.time_column))
        return df


def _slice_overlap(time_bounds) -> Column:
    """Slices whose [__tmin, __tmax] overlaps the bounds (inclusively: a
    superset, the statement's own filter is exact), as one SQL
    predicate.  A bound converts to epoch micros as ``F.lit`` would."""
    lo, hi = time_bounds
    conds = []
    if lo is not None:
        conds.append(f"{SLICE_HI} >= {T.TimestampType().toInternal(lo[0])}")
    if hi is not None:
        conds.append(f"{SLICE_LO} <= {T.TimestampType().toInternal(hi[0])}")
    return F.expr(" AND ".join(conds))
