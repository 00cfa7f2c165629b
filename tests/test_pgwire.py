"""PostgreSQL wire-protocol server, driven by a raw-socket v3 client.

≙ reference `yupana-postgres/src/test/scala/.../YupanaPostgresTest.scala`
(which drives the server through the JDBC PostgreSQL driver; here a
hand-rolled client exercises the identical message flows: startup,
SSL-probe refusal, clear-text auth, simple query, multi-statement,
extended Parse/Bind/Describe/Execute, portal suspension, error recovery,
JDBC metadata shims)."""

import socket
import struct

import pytest

from yupana_spark.server import PgWireServer

TB = "time >= TIMESTAMP '1995-01-01' AND time < TIMESTAMP '2002-01-01'"


def _cstr(s):
    return s.encode() + b"\x00"


class PgClient:
    """Just enough of the public v3 protocol to test the server."""

    def __init__(self, port, user="test", password="pw", ssl_probe=False):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=30)
        if ssl_probe:
            self.sock.sendall(struct.pack("!II", 8, 80877103))
            assert self.sock.recv(1) == b"N"
        body = struct.pack("!I", 196608) + _cstr("user") + _cstr(user) \
            + _cstr("database") + _cstr("yupana") + b"\x00"
        self.sock.sendall(struct.pack("!I", len(body) + 4) + body)
        tag, payload = self.read_msg()
        assert tag == b"R" and struct.unpack("!I", payload)[0] == 3
        self.send(b"p", _cstr(password))

    # -- low level ----------------------------------------------------------
    def _read_exact(self, n):
        out = b""
        while len(out) < n:
            chunk = self.sock.recv(n - len(out))
            if not chunk:
                raise ConnectionError("server closed")
            out += chunk
        return out

    def read_msg(self):
        tag = self._read_exact(1)
        (ln,) = struct.unpack("!I", self._read_exact(4))
        return tag, self._read_exact(ln - 4)

    def send(self, tag, body=b""):
        self.sock.sendall(tag + struct.pack("!I", len(body) + 4) + body)

    def read_until_ready(self):
        """Collect messages until ReadyForQuery; return list of (tag, body)."""
        msgs = []
        while True:
            tag, body = self.read_msg()
            if tag == b"Z":
                return msgs
            msgs.append((tag, body))

    # -- decoded helpers ----------------------------------------------------
    @staticmethod
    def _cols(body):
        (n,) = struct.unpack_from("!H", body, 0)
        off, cols = 2, []
        for _ in range(n):
            end = body.index(b"\x00", off)
            name = body[off:end].decode()
            (oid,) = struct.unpack_from("!I", body, end + 7)
            cols.append((name, oid))
            off = end + 19
        return cols

    @staticmethod
    def _row(body):
        (n,) = struct.unpack_from("!H", body, 0)
        off, vals = 2, []
        for _ in range(n):
            (ln,) = struct.unpack_from("!i", body, off)
            off += 4
            if ln < 0:
                vals.append(None)
            else:
                vals.append(body[off:off + ln].decode())
                off += ln
        return vals

    def query(self, sql):
        """Simple query -> (cols, rows, errors)."""
        self.send(b"Q", _cstr(sql))
        cols, rows, errors = [], [], []
        for tag, body in self.read_until_ready():
            if tag == b"T":
                cols = self._cols(body)
            elif tag == b"D":
                rows.append(self._row(body))
            elif tag == b"E":
                errors.append(body)
        return cols, rows, errors

    def close(self):
        self.send(b"X")
        self.sock.close()


@pytest.fixture(scope="module")
def server(tsdb):
    srv = PgWireServer(tsdb, port=0)
    port = srv.start()
    yield port
    srv.stop()


@pytest.fixture()
def client(server):
    c = PgClient(server, ssl_probe=True)
    c.read_until_ready()        # drain handshake (AuthOk..BackendKeyData)
    yield c
    c.close()


def test_handshake_parameter_status(server):
    c = PgClient(server, ssl_probe=True)
    msgs = c.read_until_ready()
    tags = [t for t, _ in msgs]
    assert tags[0] == b"R"      # AuthenticationOk
    assert struct.unpack("!I", msgs[0][1])[0] == 0
    params = {m[1].split(b"\x00")[0]: m[1].split(b"\x00")[1]
              for m in msgs if m[0] == b"S"}
    assert params[b"server_version"] == b"9.0.0"
    assert b"K" in tags         # BackendKeyData
    c.close()


def test_simple_query_tableless(client):
    cols, rows, errors = client.query("SELECT 2 + 2 AS four, 'a' + 'b' ab")
    assert not errors
    assert [c[0] for c in cols] == ["four", "ab"]
    assert rows == [["4", "ab"]]
    assert cols[1][1] == 1043   # varchar OID


def test_simple_query_aggregate(client):
    cols, rows, errors = client.query(
        f"SELECT l_returnflag, count(l_quantity) AS cnt "
        f"FROM lineitem WHERE {TB} GROUP BY l_returnflag")
    assert not errors
    assert {r[0] for r in rows} == {"A", "N", "R"}
    assert all(int(r[1]) > 0 for r in rows)


def test_show_tables_and_metadata_shims(client):
    cols, rows, _ = client.query("SHOW TABLES")
    names = {r[0] for r in rows}
    assert "lineitem" in names and "orders" in names
    # JDBC shim: select current_catalog -> SELECT database()
    _, rows2, errors2 = client.query("select current_catalog")
    assert not errors2 and len(rows2) == 1


def test_multi_statement_quote_aware(client):
    cols, rows, errors = client.query(
        "SELECT 1 AS a; SELECT 'x;y' AS b;")
    assert not errors
    # two result sets flow back; rows from the last carry the quoted ';'
    assert ["x;y"] in rows


def test_empty_query_response(client):
    client.send(b"Q", _cstr("  "))
    tags = [t for t, _ in client.read_until_ready()]
    assert tags == [b"I"]


def test_error_then_recover(client):
    _, _, errors = client.query("SELECT FROM WHERE")
    assert errors, "bad SQL must produce ErrorResponse"
    fields = errors[0].split(b"\x00")
    assert any(f[:1] == b"C" for f in fields)    # SQLSTATE present
    cols, rows, errors = client.query("SELECT 1 AS ok")
    assert not errors and rows == [["1"]]


def test_extended_protocol_roundtrip(client):
    # Parse (one varchar param) / Bind / Describe portal / Execute / Sync
    sql = (f"SELECT count(l_orderkey) AS y FROM lineitem WHERE {TB} "
           "AND l_returnflag = ?")
    client.send(b"P", _cstr("s1") + _cstr(sql)
                + struct.pack("!H", 1) + struct.pack("!i", 1043))
    client.send(b"B", _cstr("") + _cstr("s1") + struct.pack("!H", 0)
                + struct.pack("!H", 1) + struct.pack("!I", 1) + b"R"
                + struct.pack("!H", 0))
    client.send(b"D", b"P" + _cstr(""))
    client.send(b"E", _cstr("") + struct.pack("!i", 0))
    client.send(b"S")
    msgs = client.read_until_ready()
    tags = [t for t, _ in msgs]
    assert tags[:2] == [b"1", b"2"]              # ParseComplete, BindComplete
    desc = next(b for t, b in msgs if t == b"T")
    assert PgClient._cols(desc)[0][0] == "y"
    row = next(b for t, b in msgs if t == b"D")
    assert int(PgClient._row(row)[0]) > 0
    done = next(b for t, b in msgs if t == b"C")
    assert done.startswith(b"SELECT 1")


def test_extended_portal_suspension(client):
    sql = f"SELECT l_orderkey, l_quantity FROM lineitem WHERE {TB} LIMIT 10"
    client.send(b"P", _cstr("s2") + _cstr(sql) + struct.pack("!H", 0))
    client.send(b"B", _cstr("p2") + _cstr("s2") + struct.pack("!H", 0)
                + struct.pack("!H", 0) + struct.pack("!H", 0))
    client.send(b"E", _cstr("p2") + struct.pack("!i", 3))   # limit 3
    client.send(b"S")
    msgs = client.read_until_ready()
    tags = [t for t, _ in msgs]
    assert tags.count(b"D") == 3 and b"s" in tags           # PortalSuspended
    paged = [PgClient._row(b) for t, b in msgs if t == b"D"]
    # resume the suspended portal: remaining 7 rows then CommandComplete
    client.send(b"E", _cstr("p2") + struct.pack("!i", 0))
    client.send(b"S")
    msgs = client.read_until_ready()
    assert [t for t, _ in msgs].count(b"D") == 7
    assert any(t == b"C" for t, _ in msgs)
    paged += [PgClient._row(b) for t, b in msgs if t == b"D"]
    # the two pages, in order, are exactly the statement's full result
    _, rows, errors = client.query(sql)
    assert not errors and paged == rows


def _group_jobs(sc, group):
    """Job ids of ``group`` once the listener bus has caught up."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(10000)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_one_job_per_statement(server, tsdb):
    """A statement's rows come from one Spark job however many partitions
    the result has, and an admin answer (a driver-local relation) needs no
    job at all."""
    c = PgClient(server, ssl_probe=True)
    msgs = c.read_until_ready()
    pid, secret = struct.unpack(
        "!II", [body for tag, body in msgs if tag == b"K"][0])
    group = f"pgwire-{pid}-{secret}"
    sc = tsdb.spark.sparkContext
    sql = (f"SELECT l_returnflag, count(l_quantity) AS cnt "
           f"FROM lineitem WHERE {TB} GROUP BY l_returnflag")
    assert tsdb.sql(sql).rdd.getNumPartitions() >= 2
    _, rows, errors = c.query(sql)
    assert not errors and len(rows) == 3
    assert len(_group_jobs(sc, group)) == 1
    _, rows, errors = c.query("SHOW TABLES")
    assert not errors and ["lineitem"] in rows
    assert len(_group_jobs(sc, group)) == 1
    c.close()


def test_describe_statement_does_not_execute_writes(tsdb, tmp_path):
    """Describe of a prepared UPSERT answers NoData and writes nothing;
    only its Execute writes.  Reads are still described."""
    from yupana_spark import Tsdb, default_schema
    from tests.conftest import SF_SMALL

    wt = Tsdb(tsdb.spark, default_schema(), SF_SMALL,
              warehouse_root=str(tmp_path / "wh"))
    srv = PgWireServer(wt, port=0)
    c = PgClient(srv.start(), ssl_probe=True)
    c.read_until_ready()
    count = ("SELECT count(l_orderkey) AS c FROM lineitem "
             "WHERE time >= TIMESTAMP '1996-06-01' "
             "AND time < TIMESTAMP '1996-07-01' AND l_orderkey >= 7000000")

    def state():
        _, n, e1 = c.query(count)
        _, iv, e2 = c.query("SHOW UPDATES_INTERVALS")
        assert not e1 and not e2
        return n, iv

    upsert = ("UPSERT INTO lineitem (time, l_orderkey, l_partkey, "
              "l_suppkey, l_linenumber, l_quantity) VALUES "
              "(TIMESTAMP '1996-06-06', 7000000, 1, 1, 1, 42.0)")
    try:
        before = state()
        for name, sql in (("sel", count), ("show", "SHOW TABLES"),
                          ("up", upsert)):
            c.send(b"P", _cstr(name) + _cstr(sql) + struct.pack("!H", 0))
            c.send(b"D", b"S" + _cstr(name))
        c.send(b"S")
        tags = [t for t, _ in c.read_until_ready()]
        assert state() == before
        # ParseComplete, ParameterDescription, then RowDescription / NoData
        assert tags == [b"1", b"t", b"T"] * 2 + [b"1", b"t", b"n"]
        c.send(b"B", _cstr("") + _cstr("up") + struct.pack("!H", 0)
               + struct.pack("!H", 0) + struct.pack("!H", 0))
        c.send(b"E", _cstr("") + struct.pack("!i", 0))
        c.send(b"S")
        row = next(b for t, b in c.read_until_ready() if t == b"D")
        assert PgClient._row(row) == ["1"]
        n, iv = state()
        assert n == [["1"]] and len(iv) > len(before[1])
    finally:
        c.close()
        srv.stop()


def test_extended_error_skips_to_sync(client):
    client.send(b"P", _cstr("bad") + _cstr("FROBNICATE 12")
                + struct.pack("!H", 0))
    client.send(b"B", _cstr("") + _cstr("bad") + struct.pack("!H", 0)
                + struct.pack("!H", 0) + struct.pack("!H", 0))
    client.send(b"E", _cstr("") + struct.pack("!i", 0))
    client.send(b"S")
    msgs = client.read_until_ready()
    tags = [t for t, _ in msgs]
    assert tags[0] == b"E"                      # Parse failed
    assert b"2" not in tags and b"D" not in tags  # Bind/Execute skipped
    # session is usable again after Sync
    cols, rows, errors = client.query("SELECT 7 AS n")
    assert not errors and rows == [["7"]]


def test_auth_rejects_wrong_password(tsdb):
    srv = PgWireServer(tsdb, port=0, users={"admin": "secret"})
    port = srv.start()
    try:
        c = PgClient(port, user="admin", password="wrong")
        tag, body = c.read_msg()
        assert tag == b"E" and b"28P01" in body
        c.sock.close()
        c2 = PgClient(port, user="admin", password="secret")
        msgs = c2.read_until_ready()
        assert msgs[0][0] == b"R"
        c2.close()
    finally:
        srv.stop()


def test_user_ddl_roundtrip_over_wire(client):
    """CREATE/SHOW/DROP USER over the wire (r16): a trust connection runs
    as the engine's ADMIN identity, so the registry statements execute
    and answer with the reference's single STATUS row."""
    _, rows, errors = client.query(
        "CREATE USER 'wire_u' WITH PASSWORD 'p' WITH ROLE 'READ_WRITE'")
    assert not errors and rows == [["OK"]]
    try:
        _, rows, _ = client.query("SHOW USERS")
        assert ["wire_u", "READ_WRITE"] in rows
        _, _, errors = client.query("CREATE USER 'wire_u'")
        # duplicate-create is 42710 duplicate_object on the wire, not a
        # privilege error (review r16: AuthError carries its SQLSTATE)
        assert errors and b"already exists" in errors[0]
        assert b"42710" in errors[0]
    finally:
        _, rows, errors = client.query("DROP USER 'wire_u'")
    assert not errors and rows == [["OK"]]


def test_missing_user_sqlstate_consistent_over_wire(client):
    """DROP USER and ALTER USER on a missing user both carry SQLSTATE
    42704 undefined_object (VERDICT r16 #3: the DROP path used the
    default 42501 insufficient_privilege, so the wire client saw a
    different error class per statement for the same miss)."""
    for stmt in ("DROP USER 'no_such_wire_user'",
                 "ALTER USER 'no_such_wire_user' SET ROLE = 'READ_ONLY'"):
        _, _, errors = client.query(stmt)
        assert errors and b"User not found" in errors[0], stmt
        assert b"42704" in errors[0], stmt


def test_registry_auth_and_role_enforcement(tsdb):
    """auth='registry' (r16): logins validate against the CREATE USER
    registry (wrong password and unknown users get SQLSTATE 28P01 where
    trust mode would accept), and the validated ROLE scopes the
    connection — a READ_ONLY session selects fine but gets SQLSTATE
    42501 (insufficient_privilege) on user DDL and SHOW USERS."""
    tsdb.sql("CREATE USER 'ro_wire' WITH PASSWORD 's3cret' "
             "WITH ROLE 'READ_ONLY'")
    srv = PgWireServer(tsdb, port=0, auth="registry")
    port = srv.start()
    try:
        c = PgClient(port, user="ro_wire", password="nope")
        tag, body = c.read_msg()
        assert tag == b"E" and b"28P01" in body
        c.sock.close()
        c = PgClient(port, user="ghost", password="anything")
        tag, body = c.read_msg()
        assert tag == b"E" and b"28P01" in body
        c.sock.close()
        c = PgClient(port, user="ro_wire", password="s3cret")
        c.read_until_ready()
        _, rows, errors = c.query("SELECT database() AS db")
        assert not errors and rows == [["Yupana"]]
        for denied in ("CREATE USER 'x2y'", "SHOW USERS",
                       "KILL QUERY WHERE QUERY_ID = 'x'"):
            _, _, errors = c.query(denied)
            assert errors and b"42501" in errors[0], denied
        c.close()
    finally:
        srv.stop()
        tsdb.sql("DROP USER 'ro_wire'")


def test_live_connection_keeps_validated_role(tsdb):
    """Connection-scoped roles (VERDICT r16 #5, now documented in
    docs/yupanaql.md): the role is resolved ONCE at login — the
    reference's Scala server resolves the user at auth time too — so an
    ALTER USER ... SET ROLE while a connection is live does not change
    that connection's permissions; the new role applies at next login."""
    tsdb.sql("CREATE USER 'role_pin' WITH PASSWORD 'pw' "
             "WITH ROLE 'READ_ONLY'")
    srv = PgWireServer(tsdb, port=0, auth="registry")
    port = srv.start()
    try:
        c = PgClient(port, user="role_pin", password="pw")
        c.read_until_ready()
        _, _, errors = c.query("SHOW USERS")
        assert errors and b"42501" in errors[0]
        # promote while the connection is LIVE — it must keep READ_ONLY
        tsdb.sql("ALTER USER 'role_pin' SET ROLE = 'ADMIN'")
        _, _, errors = c.query("SHOW USERS")
        assert errors and b"42501" in errors[0]
        c.close()
        # ...and the NEXT login picks the new role up
        c2 = PgClient(port, user="role_pin", password="pw")
        c2.read_until_ready()
        _, rows, errors = c2.query("SHOW USERS")
        assert not errors and ["role_pin", "ADMIN"] in rows
        c2.close()
    finally:
        srv.stop()
        tsdb.sql("DROP USER 'role_pin'")


def test_registry_superuser_password(tsdb):
    """superuser_password (r16 — the reference's superUserName/
    superUserPassword config pair): in registry mode the ENGINE identity
    logs in as ADMIN with the server-configured password even over an
    empty registry, so a fresh deployment can bootstrap its first
    CREATE USER over the wire; the wrong password (and the engine name
    with NO configured password) still gets 28P01."""
    srv = PgWireServer(tsdb, port=0, auth="registry",
                       superuser_password="boot")
    port = srv.start()
    try:
        c = PgClient(port, user=tsdb.user, password="wrong")
        tag, body = c.read_msg()
        assert tag == b"E" and b"28P01" in body
        c.sock.close()
        c = PgClient(port, user=tsdb.user, password="boot")
        c.read_until_ready()
        _, rows, errors = c.query(
            "CREATE USER 'boot_made' WITH ROLE 'READ_ONLY'")
        assert not errors and rows == [["OK"]]
        _, rows, _ = c.query("SHOW USERS")
        assert ["boot_made", "READ_ONLY"] in rows
        _, rows, errors = c.query("DROP USER 'boot_made'")
        assert not errors and rows == [["OK"]]
        c.close()
    finally:
        srv.stop()
    # without the config pair, the engine identity has no stored hash
    # and cannot authenticate at all in registry mode
    srv = PgWireServer(tsdb, port=0, auth="registry")
    port = srv.start()
    try:
        c = PgClient(port, user=tsdb.user, password="boot")
        tag, body = c.read_msg()
        assert tag == b"E" and b"28P01" in body
        c.sock.close()
    finally:
        srv.stop()


def test_cancel_between_bind_and_execute(server):
    """A CancelRequest that lands during Parse/Bind (before Execute starts
    a job) must still cancel the statement — postgres honors cancels at any
    point after the request begins.  The Execute then errors with SQLSTATE
    57014, and after Sync the flag is cleared so the session recovers."""
    import time

    # the cancel lands on a separate socket and is processed by another
    # server thread — there is no client-observable "cancel registered"
    # event to poll, so a fixed sleep races host load (seen flaky under
    # concurrent JVMs).  Retry the whole scenario on a FRESH connection
    # (new pid/secret, so a late cancel from a lost attempt cannot leak
    # into the next one) with a growing grace period.
    for grace in (1, 3, 8):
        c = PgClient(server, ssl_probe=True)
        msgs = c.read_until_ready()
        pid, secret = struct.unpack(
            "!II", [body for tag, body in msgs if tag == b"K"][0])

        c.send(b"P", _cstr("sc") + _cstr("SELECT 5 AS five")
               + struct.pack("!H", 0))
        c.send(b"B", _cstr("") + _cstr("sc") + struct.pack("!H", 0)
               + struct.pack("!H", 0) + struct.pack("!H", 0))
        # cancel arrives between Bind and Execute
        s2 = socket.create_connection(("127.0.0.1", server), timeout=10)
        s2.sendall(struct.pack("!IIII", 16, 80877102, pid, secret))
        s2.close()
        time.sleep(grace)  # let the server thread process the cancel
        c.send(b"E", _cstr("") + struct.pack("!i", 0))
        c.send(b"S")
        msgs = c.read_until_ready()
        tags = [t for t, _ in msgs]
        err = b"".join(b for t, b in msgs if t == b"E")
        if b"57014" not in err:
            c.close()       # cancel missed the window under load; retry
            continue
        break
    assert b"57014" in err and b"canceling" in err
    assert b"D" not in tags                       # no rows were sent
    # Sync cleared the flag: the session works again
    _, rows, errors = c.query("SELECT 6 AS six")
    assert not errors and rows == [["6"]]
    c.close()


def test_cancel_request_kills_running_job(server, tsdb):
    """CancelRequest routing: the BackendKeyData (pid, secret) a connection
    receives at startup cancels that connection's Spark job group — a long
    job dies mid-flight; a wrong secret cancels nothing.  (The fixture's
    dialect queries finish in milliseconds, so the victim job is started
    directly under the connection's registered group — the same group every
    wire query's result job runs in, see _send_rows.)"""
    import threading
    import time

    c = PgClient(server, ssl_probe=True)
    msgs = c.read_until_ready()
    key = [body for tag, body in msgs if tag == b"K"][0]
    pid, secret = struct.unpack("!II", key)

    sc = tsdb.spark.sparkContext
    outcome = {}

    def victim():
        sc.setJobGroup(f"pgwire-{pid}-{secret}", "victim", True)
        try:
            sc.parallelize(range(8), 8) \
                .map(lambda x: (__import__("time").sleep(60), x)[1]).collect()
            outcome["state"] = "finished"
        except Exception:
            outcome["state"] = "cancelled"

    t = threading.Thread(target=victim, daemon=True)
    t.start()
    time.sleep(3)  # let tasks start running

    def send_cancel(p, s):
        s2 = socket.create_connection(("127.0.0.1", server), timeout=10)
        s2.sendall(struct.pack("!IIII", 16, 80877102, p, s))
        s2.close()

    send_cancel(pid, secret ^ 0x1)       # wrong secret: must be ignored
    time.sleep(2)
    assert t.is_alive() and "state" not in outcome

    send_cancel(pid, secret)             # right key: job dies
    t.join(timeout=30)
    assert outcome.get("state") == "cancelled"

    # the canceled backend's CONNECTION survives: next query still works
    _, rows, errors = c.query("SELECT 1 + 1 AS two")
    assert not errors and rows[0][0] in (b"2", "2")

    # a CancelRequest that races PAST completion (nothing running) must not
    # leave a stale flag: the next statement's GENUINE error has to surface
    # as itself, not be rewritten to 'canceling statement' / SQLSTATE 57014
    send_cancel(pid, secret)
    time.sleep(1)
    _, rows2, errors2 = c.query("SELECT 1 + 1 AS two")   # success clears flag
    assert not errors2
    send_cancel(pid, secret)                             # stale again...
    time.sleep(1)
    _, _, errors3 = c.query("SELECT definitely_not_a_column FROM lineitem")
    assert errors3, "broken statement must error"
    joined = b"".join(errors3)
    assert b"57014" not in joined and b"canceling" not in joined
    c.close()


def test_concurrent_readers_with_writer(tsdb, tmp_path):
    """Thread-safety under load: six reader connections hammer aggregates
    while a writer UPSERTs through the same server (each write purges the
    volume-stat memo entries the readers populate — the race memo.invalidate
    guards).  Every query must succeed and the final count must see
    all writes."""
    import threading

    from yupana_spark import Tsdb, default_schema
    from yupana_spark.server.pgwire import PgWireServer
    from tests.conftest import SF_SMALL

    wt = Tsdb(tsdb.spark, default_schema(), SF_SMALL,
              warehouse_root=str(tmp_path / "wh"))
    srv = PgWireServer(wt, port=0)
    port = srv.start()
    errs = []
    try:
        def reader(i):
            try:
                c = PgClient(port, ssl_probe=True)
                c.read_until_ready()
                for _ in range(4):
                    _, rows, errors = c.query(
                        "SELECT count(o_orderkey) AS c FROM orders "
                        "WHERE time >= TIMESTAMP '1995-01-01' "
                        "AND time < TIMESTAMP '1996-01-01'")
                    assert not errors and int(rows[0][0]) > 0
                c.close()
            except Exception as e:  # noqa: BLE001 — collected for assert
                errs.append(f"reader{i}: {e!r}")

        def writer():
            try:
                c = PgClient(port, ssl_probe=True)
                c.read_until_ready()
                for j in range(3):
                    _, rows, errors = c.query(
                        "UPSERT INTO lineitem (time, l_orderkey, l_partkey,"
                        " l_suppkey, l_linenumber, l_quantity) VALUES "
                        f"(TIMESTAMP '1996-06-06', {7000000 + j}, 1, 1, 1,"
                        " 42.0)")
                    assert not errors and int(rows[0][0]) == 1
                c.close()
            except Exception as e:  # noqa: BLE001
                errs.append(f"writer: {e!r}")

        threads = [threading.Thread(target=reader, args=(i,))
                   for i in range(6)]
        threads.append(threading.Thread(target=writer))
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=180)
        assert not errs, errs
        c = PgClient(port, ssl_probe=True)
        c.read_until_ready()
        _, rows, errors = c.query(
            "SELECT count(l_orderkey) AS c FROM lineitem "
            "WHERE time >= TIMESTAMP '1996-06-01' "
            "AND time < TIMESTAMP '1996-07-01' AND l_orderkey >= 7000000")
        assert not errors and int(rows[0][0]) == 3   # all writes landed
        c.close()
    finally:
        srv.stop()


def test_idle_cancel_does_not_poison_next_extended_statement(server):
    """A CancelRequest that lands while the connection is IDLE (after Sync,
    before the next Parse) is stale — the next extended-protocol statement
    must run normally, not die with SQLSTATE 57014."""
    import time

    c = PgClient(server, ssl_probe=True)
    msgs = c.read_until_ready()
    pid, secret = struct.unpack(
        "!II", [body for tag, body in msgs if tag == b"K"][0])
    # connection is idle: fire a cancel at it
    s2 = socket.create_connection(("127.0.0.1", server), timeout=10)
    s2.sendall(struct.pack("!IIII", 16, 80877102, pid, secret))
    s2.close()
    time.sleep(1)
    c.send(b"P", _cstr("si") + _cstr("SELECT 9 AS nine")
           + struct.pack("!H", 0))
    c.send(b"B", _cstr("") + _cstr("si") + struct.pack("!H", 0)
           + struct.pack("!H", 0) + struct.pack("!H", 0))
    c.send(b"E", _cstr("") + struct.pack("!i", 0))
    c.send(b"S")
    msgs = c.read_until_ready()
    err = b"".join(b for t, b in msgs if t == b"E")
    assert b"57014" not in err, "stale idle cancel poisoned the statement"
    row = next(b for t, b in msgs if t == b"D")
    assert PgClient._row(row) == ["9"]
    c.close()


def test_show_updates_intervals_over_wire(client):
    """The UPDATES_INTERVALS surface over the wire: the reference's exact
    five-column shape comes back, the WHERE filter surface parses and
    executes, and an unsupported condition maps to an ErrorResponse the
    session recovers from."""
    cols, rows, errors = client.query("SHOW UPDATES_INTERVALS")
    assert not errors
    assert [c[0] for c in cols] == ["table", "updated_at", "from", "to",
                                    "updated_by"]
    cols2, rows2, errors2 = client.query(
        "SHOW UPDATES_INTERVALS WHERE table = 'events' AND updated_at "
        "BETWEEN TIMESTAMP '2020-01-01' AND TIMESTAMP '2030-01-01'")
    assert not errors2 and rows2 == []
    _, _, errors3 = client.query("SHOW UPDATES_INTERVALS WHERE value > 3")
    assert errors3 and b"Unsupported condition" in errors3[0]
    _, rows4, errors4 = client.query("SELECT 1 AS ok")
    assert not errors4 and rows4 == [["1"]]


def test_malformed_input_does_not_wedge_server(server):
    """Wire robustness: garbage bytes, a truncated startup, an absurd
    length prefix, and an unknown message tag mid-session must each end
    with the offending connection dropped or answered with an error —
    never a wedged server — and a fresh well-formed connection must
    still work after every abuse."""
    import time

    def healthy():
        c = PgClient(server, ssl_probe=True)
        c.read_until_ready()
        _, rows, errors = c.query("SELECT 1 AS one")
        assert not errors and rows == [["1"]]
        c.close()

    # 1) pure garbage instead of a startup packet
    s = socket.create_connection(("127.0.0.1", server), timeout=10)
    s.sendall(b"\xde\xad\xbe\xef" * 8)
    s.close()
    healthy()
    # 2) truncated startup: length says 200 bytes, connection closes early
    s = socket.create_connection(("127.0.0.1", server), timeout=10)
    s.sendall(struct.pack("!I", 200) + b"\x00\x03\x00\x00user\x00")
    s.close()
    healthy()
    # 3) absurd length prefix (pretends 1 GiB follows)
    s = socket.create_connection(("127.0.0.1", server), timeout=10)
    s.sendall(struct.pack("!I", 1 << 30))
    time.sleep(0.2)
    s.close()
    healthy()
    # 4) unknown message tag after a valid handshake: server may answer
    # an error or drop the connection, but must survive
    c = PgClient(server, ssl_probe=True)
    c.read_until_ready()
    c.send(b"z", b"bogus")
    try:
        c.send(b"Q", _cstr("SELECT 2 AS two"))
        c.read_until_ready()
    except (ConnectionError, AssertionError, EOFError, OSError):
        pass                      # dropping the abuser is acceptable
    finally:
        try:
            c.close()
        except OSError:
            pass
    healthy()


def test_cli_registry_auth_flags(tsdb, monkeypatch):
    """`python -m yupana_spark.server --auth registry
    --superuser-password ...` wires the flags through to PgWireServer
    (the CLI advertised in the README must be able to enable what the
    API can)."""
    from yupana_spark.server import pgwire as pg

    captured = {}

    class FakeSrv:
        def __init__(self, tsdb, host, port, auth=None,
                     superuser_password=None):
            captured.update(auth=auth, superuser_password=superuser_password)

        def start(self):
            raise KeyboardInterrupt  # unwind main() before the wait

        def stop(self):
            pass

    monkeypatch.setattr(pg, "PgWireServer", FakeSrv)
    try:
        pg.main(["--auth", "registry", "--superuser-password", "boot",
                 "--port", "0"])
    except KeyboardInterrupt:
        pass
    assert captured == {"auth": "registry", "superuser_password": "boot"}
