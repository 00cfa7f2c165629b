"""PostgreSQL wire-protocol (v3) server over the YupanaQL engine.

≙ reference `yupana-postgres`:

- `YupanaPostgres.scala` / `ConnectingHandler.scala:40-86` — startup,
  SSL-probe refusal, clear-text password auth, ParameterStatus handshake;
- `MessageHandler.scala:60-105` — message dispatch: SimpleQuery, Parse,
  Bind, Describe, Execute, Close, Sync, Quit;
- `MessageHandler.preprocess` — JDBC metadata-query shims
  (`select current_catalog` -> `SELECT database()`, catalog introspection
  SELECTs -> `SHOW TABLES`);
- `protocol/PgTypes.scala:27-77` — type-OID mapping (public PostgreSQL
  catalog OIDs).

Implementation is deliberately NOT a Netty translation: a threaded
`socketserver` front-end that parses the public protocol with `struct`
and hands every statement to `Tsdb.sql` (parse -> analyze -> DataFrame).
Each statement's result is fetched with one Spark action
(`DataFrame.collect()`), so a statement costs one job, not one job per
result partition.  The driver holds the whole result while it is sent,
capped by Spark's own `spark.driver.maxResultSize` (default 1 GiB; the
engine does not set it): a larger result fails the statement with Spark's
error as an ErrorResponse and the connection stays usable.  This is the
default of Spark's own Thrift JDBC server
(`spark.sql.thriftServer.incrementalCollect=false`).

All results are sent in text format (format code 0).  Extended-protocol
parameters are accepted in text format and typed from the Parse-message
OIDs when given, otherwise inferred (int -> float -> timestamp -> text),
mirroring the reference's TypedParameter/UntypedParameter split
(MessageHandler.scala:145-170).
"""

from __future__ import annotations

import datetime as dt
import socket
import socketserver
import struct
import threading
from decimal import Decimal
from typing import Any, Dict, List, Optional, Sequence, Tuple

# --- protocol constants (public PostgreSQL docs: protocol-message-formats) --
_PROTO_V3 = 196608          # 3.0
_SSL_REQUEST = 80877103
_GSSENC_REQUEST = 80877104
_CANCEL_REQUEST = 80877102

# PostgreSQL catalog type OIDs (PgTypes.scala:27-50; pg_type.dat is public)
_OID_BOOL = 16
_OID_BYTEA = 17
_OID_INT8 = 20
_OID_INT2 = 21
_OID_INT4 = 23
_OID_TEXT = 25
_OID_FLOAT4 = 700
_OID_FLOAT8 = 701
_OID_UNKNOWN = 705
_OID_INT4_ARRAY = 1007
_OID_INT8_ARRAY = 1016
_OID_VARCHAR_ARRAY = 1015
_OID_DATE = 1082
_OID_VARCHAR = 1043
_OID_TIMESTAMP = 1114
_OID_NUMERIC = 1700

_ERR_AUTH = "28P01"      # invalid_password
_ERR_SYNTAX = "42601"
_ERR_INTERNAL = "XX000"
_ERR_CANCELED = "57014"  # query_canceled


def _spark_oid(dtype) -> int:
    """Spark DataType -> PG type OID (≙ PgTypes.pgForType)."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.StringType):
        return _OID_VARCHAR
    if isinstance(dtype, T.BooleanType):
        return _OID_BOOL
    if isinstance(dtype, T.BinaryType):
        return _OID_BYTEA
    if isinstance(dtype, (T.ByteType, T.ShortType)):
        return _OID_INT2
    if isinstance(dtype, T.IntegerType):
        return _OID_INT4
    if isinstance(dtype, T.LongType):
        return _OID_INT8
    if isinstance(dtype, T.FloatType):
        return _OID_FLOAT4
    if isinstance(dtype, T.DoubleType):
        return _OID_FLOAT8
    if isinstance(dtype, T.DecimalType):
        return _OID_NUMERIC
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return _OID_TIMESTAMP
    if isinstance(dtype, T.DateType):
        return _OID_DATE
    if isinstance(dtype, T.ArrayType):
        el = dtype.elementType
        if isinstance(el, T.IntegerType):
            return _OID_INT4_ARRAY
        if isinstance(el, T.LongType):
            return _OID_INT8_ARRAY
        return _OID_VARCHAR_ARRAY
    return _OID_UNKNOWN


def _render(v: Any) -> Optional[bytes]:
    """One value -> PG text-format bytes (None -> SQL NULL)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return b"t" if v else b"f"
    if isinstance(v, (bytes, bytearray)):
        return b"\\x" + bytes(v).hex().encode()
    if isinstance(v, dt.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S.%f").rstrip("0").rstrip(".")
        return s.encode()
    if isinstance(v, dt.date):
        return v.isoformat().encode()
    if isinstance(v, Decimal):
        return str(v).encode()
    if isinstance(v, float):
        return repr(v).encode()          # shortest round-trip repr
    if isinstance(v, (list, tuple)):
        parts = []
        for el in v:
            if el is None:
                parts.append("NULL")
            elif isinstance(el, str):
                parts.append('"' + el.replace("\\", "\\\\")
                             .replace('"', '\\"') + '"')
            else:
                parts.append((_render(el) or b"").decode())
        return ("{" + ",".join(parts) + "}").encode()
    return str(v).encode()


def _infer_param(text: Optional[str], oid: int) -> Any:
    """Text-format parameter -> Python value for Tsdb placeholder binding."""
    if text is None:
        return None
    if oid in (_OID_INT2, _OID_INT4, _OID_INT8):
        return int(text)
    if oid in (_OID_FLOAT4, _OID_FLOAT8):
        return float(text)
    if oid == _OID_NUMERIC:
        return Decimal(text)
    if oid == _OID_BOOL:
        return text in ("t", "true", "1", "on")
    if oid == _OID_TIMESTAMP:
        return dt.datetime.fromisoformat(text)
    if oid == _OID_DATE:
        return dt.date.fromisoformat(text)
    if oid in (_OID_VARCHAR, _OID_TEXT):
        return text
    # untyped (oid 0 / unknown): infer, mirroring UntypedParameter
    for conv in (int, float):
        try:
            return conv(text)
        except ValueError:
            pass
    try:
        return dt.datetime.fromisoformat(text)
    except ValueError:
        return text


class _Buf:
    """Outgoing message builder."""

    def __init__(self) -> None:
        self._parts: List[bytes] = []

    def msg(self, tag: bytes, *chunks: bytes) -> "_Buf":
        body = b"".join(chunks)
        self._parts.append(tag + struct.pack("!I", len(body) + 4) + body)
        return self

    def bytes(self) -> bytes:
        return b"".join(self._parts)


def _cstr(s: str) -> bytes:
    return s.encode("utf-8", "replace") + b"\x00"


class _Conn(socketserver.BaseRequestHandler):
    """One client connection: startup handshake then message loop."""

    _pid: Optional[int] = None

    def finish(self) -> None:
        # deregister this backend's cancel key whatever way handle() exited
        if self._pid is not None:
            self.server.cancel_keys.pop((self._pid, self._secret), None)
            self.server.cancelled_groups.discard(self._group)
        super().finish()

    # -- low-level reads ----------------------------------------------------
    def _read_exact(self, n: int) -> bytes:
        out = b""
        while len(out) < n:
            chunk = self.request.recv(n - len(out))
            if not chunk:
                raise ConnectionError("client closed")
            out += chunk
        return out

    def _read_startup(self) -> Optional[Dict[str, str]]:
        """Startup packet loop: refuse SSL/GSSENC probes ('N'), accept v3.

        ≙ InitialMessageDecoder.scala + ConnectingHandler.scala:40-55.
        """
        while True:
            (ln,) = struct.unpack("!I", self._read_exact(4))
            body = self._read_exact(ln - 4)
            (code,) = struct.unpack("!I", body[:4])
            if code in (_SSL_REQUEST, _GSSENC_REQUEST):
                self.request.sendall(b"N")
                continue
            if code == _CANCEL_REQUEST:
                # CancelRequest carries the BackendKeyData (pid, secret) the
                # target connection received at startup; on a match, cancel
                # that backend's Spark job group (≙ KILL QUERY ->
                # cancelJobGroup).  No response is ever sent on a cancel
                # connection (protocol: fire and close).
                pid, secret = struct.unpack_from("!II", body, 4)
                group = self.server.cancel_keys.get((pid, secret))
                if group is not None:
                    # flag BEFORE cancelling: the target thread may hit the
                    # aborted-job exception the moment the group dies
                    self.server.cancelled_groups.add(group)
                    try:
                        self.server.tsdb.spark.sparkContext \
                            .cancelJobGroup(group)
                    except Exception:  # noqa: BLE001 — cancel is best-effort
                        pass
                return None
            if code != _PROTO_V3:
                self._send_error(f"unsupported protocol {code >> 16}."
                                 f"{code & 0xFFFF}", _ERR_INTERNAL)
                return None
            kv = body[4:].split(b"\x00")
            params = {}
            for k, v in zip(kv[::2], kv[1::2]):
                if k:
                    params[k.decode()] = v.decode()
            return params

    def _read_msg(self) -> Tuple[bytes, bytes]:
        tag = self._read_exact(1)
        (ln,) = struct.unpack("!I", self._read_exact(4))
        return tag, self._read_exact(ln - 4)

    # -- senders ------------------------------------------------------------
    def _send(self, buf: _Buf) -> None:
        self.request.sendall(buf.bytes())

    def _send_error(self, message: str, code: str = _ERR_SYNTAX) -> None:
        body = (b"S" + _cstr("ERROR") + b"V" + _cstr("ERROR")
                + b"C" + _cstr(code) + b"M" + _cstr(message) + b"\x00")
        self._send(_Buf().msg(b"E", body))

    def _ready(self) -> None:
        self._send(_Buf().msg(b"Z", b"I"))

    def _row_description(self, schema) -> _Buf:
        buf = _Buf()
        body = [struct.pack("!H", len(schema.fields))]
        for f in schema.fields:
            body.append(_cstr(f.name))
            body.append(struct.pack("!IHIhih", 0, 0, _spark_oid(f.dataType),
                                    -1, -1, 0))   # text format
        return buf.msg(b"T", b"".join(body))

    def _send_rows(self, df, limit: int = 0, it=None,
                   send_desc: bool = True) -> Tuple[int, bool, Any]:
        """[RowDescription +] DataRows from one ``collect()`` of ``df``.

        The whole result is fetched with a single Spark job and held on the
        driver (bounded by ``spark.driver.maxResultSize``); ``it`` iterates
        the collected rows.  Execute responses must NOT carry a
        RowDescription (clients get it from Describe), so
        ``send_desc=False`` there.  Returns (rows_sent, exhausted,
        iterator) so Execute-with-limit can suspend the portal (protocol:
        PortalSuspended) and resume later without running the query again.
        """
        if it is None:
            # the job runs on this thread: tag it with the connection's
            # cancel group so a CancelRequest (or server-side kill)
            # interrupts it mid-flight, not just between messages
            try:
                self.server.tsdb.spark.sparkContext.setJobGroup(
                    self._group, "pgwire query", True)
            except Exception:  # noqa: BLE001 — grouping is best-effort
                pass
            it = iter(df.collect())
        if send_desc:
            self._send(self._row_description(df.schema))
        sent = 0
        chunk = _Buf()
        for row in it:
            vals = []
            for v in row:
                r = _render(v)
                if r is None:
                    vals.append(struct.pack("!i", -1))
                else:
                    vals.append(struct.pack("!I", len(r)) + r)
            chunk.msg(b"D", struct.pack("!H", len(row)), b"".join(vals))
            sent += 1
            if sent % 256 == 0:
                self._send(chunk)
                chunk = _Buf()
            if limit and sent >= limit:
                self._send(chunk)
                return sent, False, it
        self._send(chunk)
        return sent, True, it

    # -- statement plumbing -------------------------------------------------
    @staticmethod
    def _preprocess(sql: str) -> str:
        """JDBC/psql metadata shims (≙ MessageHandler.preprocess)."""
        low = sql.strip().rstrip(";").lower()
        if low == "select current_catalog":
            return "SELECT database()"
        if (sql.startswith("SELECT NULL AS TABLE_CAT, n.nspname AS "
                           "TABLE_SCHEM, c.relname AS TABLE_NAME")
                or sql.startswith('SELECT current_database() AS "TABLE_CAT"'
                                  ', n.nspname AS "TABLE_SCHEM"')):
            return "SHOW TABLES"
        return sql

    def _execute_sql(self, sql: str,
                     params: Optional[Sequence[Any]] = None) -> Optional[Any]:
        """YupanaQL -> DataFrame via the engine router (None for empty)."""
        sql = self._preprocess(sql).strip().rstrip(";").strip()
        if not sql:
            return None
        return self.server.tsdb.sql(sql, params=params or None,
                                    user=getattr(self, "_auth_user", None))

    # -- main ---------------------------------------------------------------
    def handle(self) -> None:  # noqa: C901 - protocol dispatch is flat
        try:
            params = self._read_startup()
        except (ConnectionError, struct.error):
            return
        if params is None:
            return
        user = params.get("user", "anonymous")

        # clear-text password auth (≙ ConnectingHandler.scala:64-70); with
        # no user registry any password is accepted (trust-with-handshake)
        self._send(_Buf().msg(b"R", struct.pack("!I", 3)))
        try:
            tag, body = self._read_msg()
        except (ConnectionError, struct.error):
            return
        if tag != b"p":
            self._send_error("expected PasswordMessage", _ERR_AUTH)
            return
        password = body.rstrip(b"\x00").decode("utf-8", "replace")
        registry = self.server.users
        if registry is not None and registry.get(user) != password:
            self._send_error(f'password authentication failed for user '
                             f'"{user}"', _ERR_AUTH)
            return
        # auth='registry' (r16): validate against the engine's
        # warehouse-backed UserManager — PBKDF2 hash for stored users, the
        # config-superuser short-circuit for the engine identity (≙ the
        # reference server validating via UserManager.validateUser) — and
        # scope every statement on this connection to the validated role.
        # The default (auth=None) keeps the historical trust handshake.
        self._auth_user = None
        if getattr(self.server, "auth", None) == "registry":
            # the server's configured superuser_password pair rides the
            # manager's own validateUser short-circuit (engine identity →
            # ADMIN without a stored hash), so a fresh deployment with an
            # empty registry is not locked out
            validated = self.server.tsdb.user_manager.validate_user(
                user, password,
                superuser_password=getattr(self.server,
                                           "superuser_password", None))
            if validated is None:
                self._send_error(f'password authentication failed for user '
                                 f'"{user}"', _ERR_AUTH)
                return
            self._auth_user = validated

        hello = _Buf().msg(b"R", struct.pack("!I", 0))   # AuthenticationOk
        for k, v in (("server_version", "9.0.0"),        # matches reference
                     ("server_encoding", "UTF8"),
                     ("client_encoding", "UTF8"),
                     ("DateStyle", "ISO, YMD"),
                     ("integer_datetimes", "on"),
                     ("is_superuser", "off"),
                     ("session_authorization", user),
                     ("standard_conforming_strings", "on")):
            hello.msg(b"S", _cstr(k) + _cstr(v))
        # BackendKeyData: (pid, secret) registered so a CancelRequest from a
        # separate connection can cancel THIS connection's running Spark jobs
        import os as _os

        self._pid = threading.get_ident() & 0x7FFFFFFF
        self._secret = int.from_bytes(_os.urandom(4), "big") & 0x7FFFFFFF
        self._group = f"pgwire-{self._pid}-{self._secret}"
        self.server.cancel_keys[(self._pid, self._secret)] = self._group
        hello.msg(b"K", struct.pack("!II", self._pid, self._secret))
        self._send(hello)
        self._ready()

        statements: Dict[str, Tuple[str, List[int]]] = {}
        portals: Dict[str, Dict[str, Any]] = {}
        skip_to_sync = False

        while True:
            try:
                tag, body = self._read_msg()
            except (ConnectionError, struct.error):
                return

            if tag == b"X":                               # Terminate
                return
            if skip_to_sync and tag not in (b"S",):
                continue

            try:
                if tag == b"Q":
                    # consume any cancel flag that raced past the PREVIOUS
                    # statement (postgres semantics: a cancel received while
                    # idle is a no-op).  A stale flag left here would
                    # rewrite this statement's genuine error into SQLSTATE
                    # 57014; a cancel arriving DURING execution still sets
                    # the flag after this point and is honored below.
                    self.server.cancelled_groups.discard(self._group)
                    self._simple_query(body)
                elif tag == b"P":
                    # a new statement begins: any cancel flagged while the
                    # connection sat idle since the last Sync is stale
                    # (postgres: a cancel received while idle is a no-op);
                    # cancels arriving from here on target THIS statement
                    self.server.cancelled_groups.discard(self._group)
                    self._parse_msg(body, statements)
                    self._send(_Buf().msg(b"1"))          # ParseComplete
                elif tag == b"B":
                    self._bind_msg(body, statements, portals)
                    self._send(_Buf().msg(b"2"))          # BindComplete
                elif tag == b"D":
                    self._describe_msg(body, statements, portals)
                elif tag == b"E":
                    # NO flag clear here: a cancel that arrived during this
                    # statement's Parse/Bind is legitimate (postgres honors
                    # cancels at any point after the request begins); stale
                    # flags are cleared at the idle boundaries instead
                    # (Q above, Sync below)
                    self._execute_msg(body, portals)
                elif tag == b"C":                         # Close
                    kind, name = body[:1], body[1:].split(b"\x00")[0].decode()
                    (statements if kind == b"S" else portals).pop(name, None)
                    self._send(_Buf().msg(b"3"))          # CloseComplete
                elif tag == b"H":                         # Flush
                    pass                                  # we never buffer
                elif tag == b"S":                         # Sync
                    # connection goes idle: any cancel still flagged was
                    # not consumed by an execution and is now stale
                    self.server.cancelled_groups.discard(self._group)
                    skip_to_sync = False
                    self._ready()
                else:
                    self._send_error(f"unsupported message "
                                     f"{tag.decode(errors='replace')!r}")
                    skip_to_sync = True
            except ConnectionError:
                return
            except Exception as exc:  # engine/protocol error -> ErrorResponse
                msg = str(exc)
                # real cancellation only: either THIS connection's group was
                # flagged by the CancelRequest path, or the exception is
                # Spark's own job-group-cancelled abort (server-side KILL).
                # A bare 'cancel' substring match would rewrite ordinary
                # engine errors that merely mention e.g. a 'cancelled'
                # column and mislead drivers that treat SQLSTATE 57014
                # specially (round-4 advice).
                canceled = self._group in self.server.cancelled_groups
                if canceled:
                    self.server.cancelled_groups.discard(self._group)
                else:
                    low = msg.lower()
                    canceled = ("cancelled as part of cancellation of "
                                in low) or ("cancelled part of cancelled "
                                            "job group" in low)
                from ..auth import AuthError

                # AuthError carries its own SQLSTATE (42501 for
                # permission denials, 42710 duplicate user, 42704 user
                # not found, 22023 invalid role — review r16: a
                # duplicate-create is not a privilege problem)
                code = (_ERR_CANCELED if canceled
                        else exc.sqlstate if isinstance(exc, AuthError)
                        else _ERR_SYNTAX)
                self._send_error("canceling statement due to user request"
                                 if canceled else msg, code)
                if tag == b"Q":
                    self._ready()
                else:
                    skip_to_sync = True

    # -- per-message handlers ----------------------------------------------
    @staticmethod
    def _split_statements(sql: str) -> List[str]:
        """Split a simple-query string on top-level ';' (quote-aware)."""
        out, cur, in_str = [], [], False
        for ch in sql:
            if ch == "'":
                in_str = not in_str
                cur.append(ch)
            elif ch == ";" and not in_str:
                out.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        out.append("".join(cur))
        return [s for s in (x.strip() for x in out) if s]

    def _simple_query(self, body: bytes) -> None:
        sql = body.rstrip(b"\x00").decode("utf-8", "replace")
        ran_any = False
        for stmt in self._split_statements(sql):
            df = self._execute_sql(stmt)
            if df is None:
                continue
            ran_any = True
            n, _, _ = self._send_rows(df)
            self._send(_Buf().msg(b"C", _cstr(f"SELECT {n}")))
        if not ran_any:
            self._send(_Buf().msg(b"I"))                  # EmptyQueryResponse
        self._ready()

    def _parse_msg(self, body: bytes,
                   statements: Dict[str, Tuple[str, List[int]]]) -> None:
        name_end = body.index(b"\x00")
        name = body[:name_end].decode()
        sql_end = body.index(b"\x00", name_end + 1)
        sql = body[name_end + 1:sql_end].decode("utf-8", "replace")
        (n_types,) = struct.unpack_from("!H", body, sql_end + 1)
        oids = list(struct.unpack_from(f"!{n_types}i", body, sql_end + 3))
        # fail fast on syntax errors, like the reference's parse-at-Parse
        from yupana_spark.sql.parser import parse as yql_parse
        pre = self._preprocess(sql).strip().rstrip(";").strip()
        if pre:
            yql_parse(pre)
        statements[name] = (sql, oids)

    def _bind_msg(self, body: bytes, statements, portals) -> None:
        pos = body.index(b"\x00")
        portal = body[:pos].decode()
        end = body.index(b"\x00", pos + 1)
        stmt_name = body[pos + 1:end].decode()
        if stmt_name not in statements:
            raise ValueError(f'unknown prepared statement "{stmt_name}"')
        sql, oids = statements[stmt_name]
        off = end + 1
        (n_fmt,) = struct.unpack_from("!H", body, off)
        fmts = struct.unpack_from(f"!{n_fmt}h", body, off + 2)
        if any(f == 1 for f in fmts):
            raise ValueError("binary-format parameters are not supported; "
                             "send parameters in text format")
        off += 2 + 2 * n_fmt
        (n_params,) = struct.unpack_from("!H", body, off)
        off += 2
        values: List[Any] = []
        for i in range(n_params):
            (ln,) = struct.unpack_from("!i", body, off)
            off += 4
            if ln < 0:
                values.append(None)
            else:
                text = body[off:off + ln].decode("utf-8", "replace")
                off += ln
                oid = oids[i] if i < len(oids) else 0
                values.append(_infer_param(text, oid))
        portals[portal] = {"sql": sql, "params": values, "df": None,
                           "it": None}

    def _portal_df(self, portal: Dict[str, Any]):
        if portal["df"] is None:
            portal["df"] = self._execute_sql(portal["sql"], portal["params"])
        return portal["df"]

    def _describe_msg(self, body: bytes, statements, portals) -> None:
        kind, name = body[:1], body[1:].split(b"\x00")[0].decode()
        if kind == b"S":
            if name not in statements:
                raise ValueError(f'unknown prepared statement "{name}"')
            sql, oids = statements[name]
            self._send(_Buf().msg(
                b"t", struct.pack("!H", len(oids))
                + b"".join(struct.pack("!I", o or _OID_UNKNOWN)
                           for o in oids)))
            # building a statement runs it, so only reads are built to learn
            # their schema: an UPSERT, SET or user DDL must not take effect
            # before Bind/Execute
            from yupana_spark.sql import ast as A
            from yupana_spark.sql.parser import parse as yql_parse

            reads = (A.Select, A.ShowTables, A.ShowVersion, A.ShowColumns,
                     A.ShowFunctions, A.ShowUsers, A.ShowQueries,
                     A.ShowUpdatesIntervals)
            try:                       # schema without params -> best effort
                stmt = yql_parse(self._preprocess(sql).strip().rstrip(";"))
                df = self._execute_sql(sql) if isinstance(stmt, reads) else None
            except Exception:  # noqa: BLE001
                df = None
            self._send(_Buf().msg(b"n") if df is None         # NoData
                       else self._row_description(df.schema))
        else:
            if name not in portals:
                raise ValueError(f'unknown portal "{name}"')
            df = self._portal_df(portals[name])
            if df is None:
                self._send(_Buf().msg(b"n"))
            else:
                self._send(self._row_description(df.schema))

    def _execute_msg(self, body: bytes, portals) -> None:
        end = body.index(b"\x00")
        name = body[:end].decode()
        (limit,) = struct.unpack_from("!i", body, end + 1)
        if name not in portals:
            raise ValueError(f'unknown portal "{name}"')
        # a CancelRequest that landed during Parse/Bind set the flag but had
        # no running Spark job to kill — honor it before starting one
        # (postgres cancels at any point after the request begins)
        if self._group in self.server.cancelled_groups:
            raise RuntimeError("statement cancelled before execution")
        portal = portals[name]
        df = self._portal_df(portal)
        if df is None:
            self._send(_Buf().msg(b"I"))
            return
        n, done, it = self._send_rows(df, limit=max(limit, 0),
                                      it=portal["it"], send_desc=False)
        portal["it"] = it
        if done:
            portal["it"] = None
            self._send(_Buf().msg(b"C", _cstr(f"SELECT {n}")))
        else:
            self._send(_Buf().msg(b"s"))                  # PortalSuspended


class PgWireServer:
    """Threaded pgwire front-end bound to one Tsdb.

    ::

        srv = PgWireServer(tsdb, port=0)      # 0 = ephemeral
        port = srv.start()
        ... any PostgreSQL client at 127.0.0.1:port ...
        srv.stop()
    """

    def __init__(self, tsdb, host: str = "127.0.0.1", port: int = 5433,
                 users: Optional[Dict[str, str]] = None,
                 auth: Optional[str] = None,
                 superuser_password: Optional[str] = None):
        """``auth=None`` (default) keeps the historical trust handshake;
        ``auth='registry'`` validates every login against the engine's
        CREATE USER registry (+ the config superuser) and scopes each
        connection to its validated role.  ``superuser_password`` is the
        reference's superUserName/superUserPassword config pair
        (UserManager.scala validateUser short-circuit): in registry mode
        it lets the ENGINE identity (``tsdb.user``) log in as ADMIN even
        over an empty registry — without it the first CREATE USER must
        happen embedded, since the superuser has no stored hash."""
        if auth not in (None, "registry"):
            raise ValueError(f"auth must be None or 'registry', got {auth!r}")
        self.tsdb = tsdb
        self.host = host
        self.port = port
        self.users = users
        self.auth = auth
        self.superuser_password = superuser_password
        self._srv: Optional[socketserver.ThreadingTCPServer] = None
        self._thread: Optional[threading.Thread] = None

    def start(self) -> int:
        outer = self

        class _Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True
            tsdb = outer.tsdb
            users = outer.users
            auth = outer.auth
            superuser_password = outer.superuser_password
            # (pid, secret) -> Spark job group, for CancelRequest routing
            cancel_keys: Dict[Tuple[int, int], str] = {}
            # job groups a CancelRequest has fired on — the dedicated signal
            # the error path checks, instead of guessing from message text
            cancelled_groups: set = set()

        self._srv = _Server((self.host, self.port), _Conn)
        self.port = self._srv.server_address[1]
        self._thread = threading.Thread(target=self._srv.serve_forever,
                                        name="pgwire", daemon=True)
        self._thread.start()
        return self.port

    def stop(self) -> None:
        if self._srv is not None:
            self._srv.shutdown()
            self._srv.server_close()
            self._srv = None


def loopback_check(tsdb, sql: str = "SELECT database() AS db",
                   expect: str = "Yupana", timeout: float = 30.0) -> bool:
    """End-to-end wire-protocol health check: start an ephemeral server,
    speak the real v3 protocol over a loopback socket (SSLRequest probe,
    StartupMessage, cleartext auth, simple query), and verify the one-row
    answer — the same deploy-time smoke a Postgres client would run.
    Always stops the server.  Returns True iff every protocol step and
    the row value matched."""
    srv = None
    try:
        srv = PgWireServer(tsdb, port=0)
        port = srv.start()
        sock = socket.create_connection(("127.0.0.1", port), timeout=timeout)
        try:
            sock.sendall(struct.pack("!II", 8, 80877103))   # SSLRequest
            if sock.recv(1) != b"N":
                return False
            body = (struct.pack("!I", 196608) + _cstr("user") + _cstr("chk")
                    + _cstr("database") + _cstr("yupana") + b"\x00")
            sock.sendall(struct.pack("!I", len(body) + 4) + body)

            def read_exact(n):
                # every recv checks EOF: a server that closes mid-exchange
                # must fail the check, not busy-spin on b'' forever
                buf = b""
                while len(buf) < n:
                    chunk = sock.recv(n - len(buf))
                    if not chunk:
                        raise ConnectionError("server closed")
                    buf += chunk
                return buf

            def read_msg():
                tag = read_exact(1)
                (ln,) = struct.unpack("!I", read_exact(4))
                return tag, read_exact(ln - 4)

            tag, payload = read_msg()
            if tag != b"R" or struct.unpack("!I", payload)[0] != 3:
                return False
            pw = _cstr("pw")
            sock.sendall(b"p" + struct.pack("!I", len(pw) + 4) + pw)
            while True:                                      # drain handshake
                tag, payload = read_msg()
                if tag == b"Z":
                    break
            q = _cstr(sql)
            sock.sendall(b"Q" + struct.pack("!I", len(q) + 4) + q)
            rows, errors = [], []
            while True:
                tag, payload = read_msg()
                if tag == b"Z":
                    break
                if tag == b"D":
                    (n,) = struct.unpack_from("!H", payload, 0)
                    (vlen,) = struct.unpack_from("!i", payload, 2)
                    rows.append(None if vlen < 0
                                else payload[6:6 + vlen].decode())
                elif tag == b"E":
                    errors.append(payload)
            sock.sendall(b"X" + struct.pack("!I", 4))        # Terminate
            return not errors and rows == [expect]
        finally:
            sock.close()
    except (OSError, ConnectionError, struct.error):
        return False
    finally:
        if srv is not None:
            srv.stop()


def main(argv=None) -> int:
    import argparse

    ap = argparse.ArgumentParser(prog="yupana_spark.server")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=5433)
    ap.add_argument("--auth", choices=["registry"], default=None,
                    help="validate logins against the CREATE USER "
                         "registry and scope each connection to its role "
                         "(default: trust handshake)")
    ap.add_argument("--superuser-password", default=None,
                    help="registry mode: lets the engine identity log in "
                         "as ADMIN over an empty registry (the "
                         "reference's superUserName/superUserPassword "
                         "config pair)")
    args = ap.parse_args(argv)

    from yupana_spark import Tsdb, default_schema
    from yupana_spark.session import get_spark

    spark = get_spark("yupana-pgwire")
    spark.sparkContext.setLogLevel("ERROR")
    tsdb = Tsdb(spark, default_schema(), args.sf_dir)
    srv = PgWireServer(tsdb, args.host, args.port, auth=args.auth,
                       superuser_password=args.superuser_password)
    port = srv.start()
    print(f"pgwire listening on {args.host}:{port}")
    try:
        threading.Event().wait()
    except KeyboardInterrupt:
        srv.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
