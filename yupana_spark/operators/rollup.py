"""Rollups: scheduled pre-aggregation from a source table into target tables.

Reference: yupana-api/.../schema/Rollup.scala:23-65 (Rollup(fromTable,
toTables, timeExpr, groupBy, fields)), instances
yupana-schema/.../ReceiptRollups.scala:26-56, Spark runner
yupana-spark/.../CustomRollup.scala:16-60; recalc windows come from the
changelog (TsdbBase.scala:415-423).

Spark design: one declarative groupBy/agg job per rollup; output written to
the warehouse like any table, through ``Warehouse.write_table``, and read
back through ``Warehouse.read``: the warehouse's bucket layout is not
known here.  ``recalculate`` limits the
AGGREGATION to the rollup buckets the changelog marks dirty and commits
them once: one ``run_rollup`` over their bucket ranges (adjacent buckets
merged), whatever the number of dirty buckets, so a clean bucket between
two dirty ones is neither read nor recomputed.  The incremental merge
drops the target rows in those ranges with a filter and unions the
recomputed ones, so an incremental recalc runs one Spark job (the target
write; the changelog is read on the driver).  Every run still rewrites
the whole target table (the warehouse commits whole tables).
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass
from typing import Optional, Sequence, Tuple

from pyspark.sql import DataFrame, functions as F

from .. import expressions as E
from ..compiler import ExpressionCompiler, _Ctx
from ..session import rehome
from .writes import Warehouse

# a [start, end) time range; None leaves that side open
TimeRange = Tuple[Optional[_dt.datetime], Optional[_dt.datetime]]


@dataclass(frozen=True)
class Rollup:
    name: str
    from_table: str
    to_table: str
    time_trunc: str  # day | week | month — ≙ Rollup.timeExpr
    group_by: Tuple[str, ...]  # dimension names carried over
    aggregates: Tuple[Tuple[E.AggExpr, str], ...]  # (agg expr, output name)


def _within(col, windows, trunc: Optional[str] = None):
    """``col`` lies in one of the [start, end) ``windows`` (None leaves a
    side open); ``trunc`` widens each start to the start of its bucket."""
    cond = F.lit(False)
    for start, end in windows:
        c = F.lit(True)
        if start is not None:
            lo = F.lit(start)
            c &= col >= (F.date_trunc(trunc, lo) if trunc else lo)
        if end is not None:
            c &= col < F.lit(end)
        cond |= c
    return cond


def run_rollup(wh: Warehouse, rollup: Rollup, *,
               windows: Sequence[TimeRange] = ()) -> DataFrame:
    """Execute one rollup and write the result into the target table.

    ``windows``, disjoint [start, end) ranges, limits the run to them: one
    commit recomputes every range and keeps the target rows outside them.
    With none, the whole target is recomputed.

    The aggregation relies on HashAggregateExec partial/final (the
    reference's fold/combine/postCombine, TsdbBase.scala:241-267).
    """
    src = wh.read(rollup.from_table)   # on the source table's posture
    if windows:
        src = src.filter(_within(F.col("time"), windows))

    ec = ExpressionCompiler(wh.schema.tables.get(rollup.from_table))
    ctx = _Ctx()
    gcols = [F.date_trunc(rollup.time_trunc, F.col("time")).alias("time")]
    gcols += [F.col(d) for d in rollup.group_by]
    aggs = [ec.col(a, ctx).alias(nm) for a, nm in rollup.aggregates]
    out = src.groupBy(*gcols).agg(*aggs)

    if wh.exists(rollup.to_table) and windows:
        # incremental: replace the buckets the windows can produce, i.e.
        # target rows with time in [date_trunc(start), end) of a window —
        # a range filter, where an anti join on the recomputed bucket
        # times would cost a job of its own
        existing = rehome(wh.read(rollup.to_table), src.sparkSession)
        inside = _within(F.col("time"), windows, rollup.time_trunc)
        kept = existing.filter(~F.coalesce(inside, F.lit(False)))
        merged = kept.unionByName(out)
        wh.write_table(rollup.to_table, merged)
    else:
        wh.write_table(rollup.to_table, out)
    return wh.read(rollup.to_table)


def _bucket_bounds(time_trunc: str, day: _dt.datetime):
    """[start, end) of the rollup bucket containing ``day``.

    A dirty DAY must recompute its whole enclosing week/month/year bucket:
    run_rollup's incremental merge replaces entire buckets, so feeding it a
    one-day window would overwrite a month aggregate with one day's partial
    sums."""
    day = _dt.datetime(day.year, day.month, day.day)
    if time_trunc == "day":
        return day, day + _dt.timedelta(days=1)
    if time_trunc == "week":  # ISO Monday, matching date_trunc('week')
        start = day - _dt.timedelta(days=day.weekday())
        return start, start + _dt.timedelta(days=7)
    if time_trunc == "month":
        start = day.replace(day=1)
        end = (start.replace(year=start.year + 1, month=1) if start.month == 12
               else start.replace(month=start.month + 1))
        return start, end
    if time_trunc == "year":
        start = day.replace(month=1, day=1)
        return start, start.replace(year=start.year + 1)
    raise ValueError(f"unsupported rollup time_trunc {time_trunc!r}")


def recalculate(wh: Warehouse, rollup: Rollup,
                since: Optional[_dt.datetime] = None,
                updated_by: Optional[str] = None) -> DataFrame:
    """Recompute only intervals the changelog marks as rewritten, widened to
    full rollup-bucket boundaries (TsdbBase.scala:415-423 recalc windows).

    ``since`` narrows to windows whose changelog entry was written at or
    after that wall-clock instant — the INCREMENTAL form: a scheduled
    rollup passes its last successful run time and touches only buckets
    dirtied since (the reference threads the same filter through its
    ChangelogDao, UpdatesIntervalsProvider.scala:95-117).  ``updated_by``
    narrows to one writer's changes."""
    from .writes import UpdatesIntervalsFilter

    if not wh.exists(rollup.to_table):
        # the target was never materialized: ANY recalc (filtered or not)
        # must build the full table first — replaying only the dirty
        # buckets would install a partial rollup that later incremental
        # runs never repair
        return run_rollup(wh, rollup)
    flt = UpdatesIntervalsFilter(
        table_name=rollup.from_table,
        updated_after=since,
        updated_by=updated_by)
    # the changelog is a driver-side LocalRelation: no job
    days = {row["day"] for row in
            wh.updates_intervals(flt).select("day").collect()}
    if not days:
        if since is None and updated_by is None:
            return run_rollup(wh, rollup)     # no changelog: recompute all
        return wh.read(rollup.to_table)       # incremental: nothing dirty
    # one commit over the dirty buckets, adjacent ones merged into one
    # range: clean buckets between two dirty ones stay untouched
    windows: list = []
    for start, end in sorted({_bucket_bounds(rollup.time_trunc, day)
                              for day in days}):
        if windows and windows[-1][1] == start:
            windows[-1] = (windows[-1][0], end)
        else:
            windows.append((start, end))
    return run_rollup(wh, rollup, windows=windows)
