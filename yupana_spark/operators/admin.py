"""Admin / metadata statements.

Reference: SqlParser.scala:292-379 (grammar), QueryEngineRouter.scala:64-118
(dispatch), providers/JdbcMetadataProvider.scala:1-212 (SHOW TABLES/COLUMNS
output shape), UpdatesIntervalsProvider.scala (SHOW UPDATES_INTERVALS).
User MANAGEMENT (r16 — closes the last §2.11 scope cut): CREATE/ALTER/DROP
USER run against the warehouse-backed ``auth.UserManager`` registry with
the reference's role matrix and error strings; SHOW USERS
(QueryEngineRouter.scala:154-162) lists the effective superuser identity
plus the registry; every dispatch arm checks the statement's
(subject, action) permission pair against the caller's role first —
except SET, which has no subject in the reference's permission model
(its wire server acknowledges SET without applying it) and here applies
the conf for ADMIN only, echoing as a no-op for everyone else.
"""

from __future__ import annotations

import dataclasses as _dataclasses
from typing import TYPE_CHECKING

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .. import __version__ as _pkg_version_guard  # noqa: F401
from .. import memo, types as yt
from ..expressions import InvalidQueryError
from ..sql import ast as A
from .metrics import REGISTRY

if TYPE_CHECKING:
    from ..compiler import Tsdb


def _df(spark, rows, schema):
    """A statement's answer as a driver-local ``LocalRelation``.

    Built from an Arrow table, so collecting it runs no Spark job; a plain
    row list would be parallelized into an RDD that costs one job per
    answer (every UPSERT's one-row count included)."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows],
                                 schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


# SHOW FUNCTIONS FOR <type> (FunctionRegistry.scala:334-342)
_COMMON = ["count", "distinct_count", "distinct_random", "lag", "max", "min",
           "is_null", "is_not_null"]
_BY_TYPE = {
    yt.STRING: _COMMON + ["sum", "length", "lower", "upper", "split", "tokens",
                          "hll_count", "+"],
    yt.TIMESTAMP: _COMMON + [
        "hll_count", "extract_year", "extract_quarter", "extract_month",
        "extract_day", "extract_hour", "extract_minute", "extract_second",
        "trunc_year", "trunc_quarter", "trunc_month", "trunc_week",
        "trunc_day", "trunc_hour", "trunc_minute", "trunc_second",
        "year", "quarter", "month", "week", "day", "hour", "minute", "second",
    ],
    yt.BOOLEAN: ["count", "is_null", "is_not_null", "and", "or", "not"],
}
_NUMERIC_FNS = _COMMON + ["sum", "avg", "abs", "-", "+", "*", "/"]


def functions_for(type_name: str) -> list[str]:
    t = type_name.upper()
    if t in ("VARCHAR", "STRING"):
        return sorted(set(_BY_TYPE[yt.STRING]))
    if t == "TIMESTAMP":
        return sorted(set(_BY_TYPE[yt.TIMESTAMP]))
    if t == "BOOLEAN":
        return sorted(set(_BY_TYPE[yt.BOOLEAN]))
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "DOUBLE", "DECIMAL",
             "CURRENCY", "INT"):
        fns = list(_NUMERIC_FNS)
        if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"):
            fns.append("hll_count")
        return sorted(set(fns))
    if t.startswith("ARRAY"):
        return sorted(["length", "array_to_string", "contains", "contains_all",
                       "contains_any", "contains_same", "tokens", "count"])
    raise InvalidQueryError(f"unknown type {type_name}")


def _intervals_filter(cond, params=None):
    """Translate a SHOW UPDATES_INTERVALS WHERE condition into the
    provider's closed filter surface (UpdatesIntervalsProvider.scala:95-117
    ``createFilter``): ``table = s`` (either side), ``updated_at BETWEEN``,
    ``recalculated_at BETWEEN``, ``recalculated_at >= t``, ``updated_by =
    s``, AND-combined — every other shape is rejected with the reference's
    "Unsupported condition" message.  ``params`` binds ``?``/``$n``
    placeholders the way the reference threads its parameter map."""
    import datetime as _dtm

    from .writes import UpdatesIntervalsFilter

    def val(x, want, cond_repr):
        if isinstance(x, A.PlaceholderV):
            if params is None or x.index > len(params):
                raise InvalidQueryError(
                    f"Parameter #{x.index} is not defined")
            v = params[x.index - 1]
        elif isinstance(x, A.Constant):
            v = x.value
        else:
            raise InvalidQueryError(f"Unsupported condition: {cond_repr}")
        if want is str and isinstance(v, str):
            return v
        if want is _dtm.datetime and isinstance(v, _dtm.datetime):
            return v
        raise InvalidQueryError(
            f"Got {v!r} but {'VARCHAR' if want is str else 'TIMESTAMP'} "
            "is required")

    f = UpdatesIntervalsFilter()

    def one(c):
        nonlocal f
        if isinstance(c, A.BinOp) and c.op in ("=", ">="):
            l, r = c.left, c.right
            # accept constant-on-either-side for equality, like the
            # reference's Eq(Constant, FieldName) arm
            if c.op == "=" and isinstance(r, A.FieldName) \
                    and not isinstance(l, A.FieldName):
                l, r = r, l
            if isinstance(l, A.FieldName):
                nm = l.name.lower()
                if c.op == "=" and nm in ("table", "table_name"):
                    f = _dataclasses.replace(
                        f, table_name=val(r, str, c))
                    return
                if c.op == "=" and nm == "updated_by":
                    f = _dataclasses.replace(
                        f, updated_by=val(r, str, c))
                    return
                if c.op == ">=" and nm == "recalculated_at":
                    f = _dataclasses.replace(
                        f, recalculated_after=val(r, _dtm.datetime, c))
                    return
        if isinstance(c, A.BetweenE) and isinstance(c.expr, A.FieldName):
            nm = c.expr.name.lower()
            lo = c.lo if isinstance(c.lo, A.SqlExpr) else A.Constant(c.lo)
            hi = c.hi if isinstance(c.hi, A.SqlExpr) else A.Constant(c.hi)
            if nm == "updated_at":
                f = _dataclasses.replace(
                    f, updated_after=val(lo, _dtm.datetime, c),
                    updated_before=val(hi, _dtm.datetime, c))
                return
            if nm == "recalculated_at":
                f = _dataclasses.replace(
                    f, recalculated_after=val(lo, _dtm.datetime, c),
                    recalculated_before=val(hi, _dtm.datetime, c))
                return
        raise InvalidQueryError(f"Unsupported condition: {c}")

    parts = cond.parts if isinstance(cond, A.AndE) else (cond,)
    for c in parts:
        one(c)
    return f


def execute_statement(tsdb: "Tsdb", stmt: A.Statement,
                      params=None, user=None) -> DataFrame:
    """Dispatch a non-SELECT statement under ``user``'s permissions
    (QueryEngineRouter.scala:64-118 subject/action pairs: metadata reads
    for SHOW TABLES/VERSION/COLUMNS/FUNCTIONS, queries read/write for the
    metrics statements, user read/write for the registry, table write
    for UPSERT).  ``user`` defaults to the engine's ADMIN identity, so
    embedded callers see no behavior change."""
    spark = tsdb.spark
    eff = user if user is not None else tsdb.effective_user
    perm = tsdb.permissions
    if isinstance(stmt, A.ShowTables):
        perm.check(eff, "metadata", "read")
        rows = [(n,) for n in sorted(tsdb.schema.tables)]
        return _df(spark, rows, "TABLE_NAME string")
    if isinstance(stmt, A.ShowVersion):
        perm.check(eff, "metadata", "read")
        from .. import __version__

        major, minor = __version__.split(".")[:2]
        return _df(spark, [(int(major), int(minor), __version__)],
                   "MAJOR int, MINOR int, VERSION string")
    if isinstance(stmt, A.ShowUsers):
        # reference QueryEngineRouter.scala:154-162 lists the user
        # registry as (NAME, ROLE).  The engine's own identity (the
        # config superuser, always ADMIN) is listed FIRST — a documented
        # deviation from the reference (whose DAO listing omits the
        # config superuser): with an empty registry the statement still
        # reports the one effective identity, which is what admin tools
        # pointed at an unauthenticated pgwire need to see.
        perm.check(eff, "user", "read")
        um = tsdb._um_maybe
        rows = [(tsdb.user, "ADMIN")]
        if um is not None:
            rows += [(u.name, u.role) for u in um.list_users()]
        return _df(spark, rows, "NAME string, ROLE string")
    if isinstance(stmt, (A.CreateUser, A.AlterUser, A.DropUser)):
        # ≙ QueryEngineRouter.scala:126-152: user/write permission, then
        # the UserManager call; every outcome is the reference's —
        # single (STATUS='OK') row on success, typed AuthError with the
        # reference's message otherwise
        from ..auth import AuthError

        perm.check(eff, "user", "write")
        um = tsdb.user_manager
        if isinstance(stmt, A.CreateUser):
            um.create_user(stmt.name, stmt.password, stmt.role)
        elif isinstance(stmt, A.AlterUser):
            um.update_user(stmt.name, stmt.password, stmt.role)
        elif not um.delete_user(stmt.name):
            # 42704 undefined_object — same SQLSTATE as the ALTER USER miss
            # (auth.UserManager.update_user); the default 42501 read as a
            # privilege error over pgwire (ADVICE r16)
            raise AuthError("User not found", "42704")
        return _df(spark, [("OK",)], "STATUS string")
    if isinstance(stmt, A.ShowColumns):
        perm.check(eff, "metadata", "read")
        t = tsdb.schema.table(stmt.table)
        rows = [("time", yt.TIMESTAMP, False, "time")]
        rows += [(d.name, d.dtype, False, f"dimension({d.kind})")
                 for d in t.dimensions]
        rows += [(m.name, m.dtype, True, "metric") for m in t.metrics]
        for link in t.external_links:
            rows += [(f"{link.name}_{f.name}", f.dtype, True, "link")
                     for f in link.fields]
        return _df(spark, rows,
                   "COLUMN_NAME string, DATA_TYPE string, NULLABLE boolean, "
                   "KIND string")
    if isinstance(stmt, A.ShowFunctions):
        perm.check(eff, "metadata", "read")
        return _df(spark, [(f,) for f in functions_for(stmt.type_name)],
                   "NAME string")
    if isinstance(stmt, A.ShowQueries):
        perm.check(eff, "queries", "read")
        # live registry first, then the parquet-persisted history from prior
        # engine instances over the same warehouse root (TsdbQueryMetrics
        # parity: metrics survive restarts); live entries win on id clash
        ms = REGISTRY.snapshot()
        seen = {m.query_id for m in ms}
        ms += [m for m in tsdb.metrics_store.load()
               if m.query_id not in seen]
        if stmt.query_id:
            ms = [m for m in ms if m.query_id == stmt.query_id]
        if stmt.state:
            ms = [m for m in ms if m.state == stmt.state.upper()]
        ms.sort(key=lambda m: -m.start_ts)
        if stmt.limit:
            ms = ms[: stmt.limit]
        rows = [(m.query_id, m.query, m.state, float(m.duration),
                 float(m.stages.get("parse", 0.0)),
                 float(m.stages.get("analyze", 0.0)),
                 float(m.stages.get("compile", 0.0) + m.stages.get("execute", 0.0)))
                for m in ms]
        return _df(spark, rows, T.StructType([
            T.StructField("QUERY_ID", T.StringType()),
            T.StructField("QUERY", T.StringType()),
            T.StructField("STATE", T.StringType()),
            T.StructField("DURATION", T.DoubleType()),
            # ≙ TsdbQueryMetrics per-stage breakdown (parse/analyze/compile;
            # Spark execution is lazy — job time lands in the caller's action)
            T.StructField("PARSE_S", T.DoubleType()),
            T.StructField("ANALYZE_S", T.DoubleType()),
            T.StructField("COMPILE_S", T.DoubleType()),
        ]))
    if isinstance(stmt, A.ShowUpdatesIntervals):
        perm.check(eff, "queries", "read")
        flt = (None if stmt.condition is None
               else _intervals_filter(stmt.condition, params))
        # statement-facing shape = the reference's exact five columns
        # (UpdatesIntervalsProvider.scala:55-62: table, updated_at, from,
        # to, updated_by); the warehouse keeps its internal day-bucket
        # names for programmatic consumers
        iv = tsdb.warehouse.updates_intervals(flt)
        return iv.select(F.col("table_name").alias("table"),
                         F.col("updated_at"),
                         F.col("from_time").alias("from"),
                         F.col("to_time").alias("to"),
                         F.col("updated_by"))
    if isinstance(stmt, A.KillQuery):
        perm.check(eff, "queries", "write")
        ok = REGISTRY.kill(spark, stmt.query_id)
        if ok:
            tsdb._persist_metric(stmt.query_id)  # CANCELLED survives restart
        return _df(spark, [(ok,)], "OK boolean")
    if isinstance(stmt, A.DeleteQueries):
        perm.check(eff, "queries", "write")
        gone = set(REGISTRY.delete(stmt.query_id, stmt.state))
        gone |= set(tsdb.metrics_store.delete(stmt.query_id, stmt.state))
        return _df(spark, [(len(gone),)], "DELETED int")
    if isinstance(stmt, A.SetValue):
        # the reference's wire SET is acknowledged but NEVER applied
        # (yupana-postgres MessageHandler.scala:230 answers
        # CommandComplete("SET") and discards name/value); this engine's
        # embedded SET genuinely mutates the SparkSession conf, which is
        # SHARED across every connection of a wire server — so only
        # ADMIN applies it, and any lower role gets the reference's
        # acknowledged-no-op (review r16: a READ_ONLY login could
        # otherwise flip spark.sql.session.timeZone for everyone)
        if eff.role == "ADMIN":
            spark.conf.set(stmt.name, str(stmt.value))
            # posture sessions are clones taken before the SET: drop them
            # so the next statement re-clones with the new value
            memo.invalidate("posture")
        return _df(spark, [(stmt.name, str(stmt.value))],
                   "NAME string, VALUE string")
    if isinstance(stmt, A.Upsert):
        perm.check(eff, "table", "write")
        n = tsdb.warehouse.upsert_values(stmt.table, stmt.fields, stmt.values)
        return _df(spark, [(n,)], "UPSERTED int")
    raise InvalidQueryError(f"cannot execute {type(stmt).__name__}")
