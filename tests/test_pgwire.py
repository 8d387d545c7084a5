"""pgwire server front-end: simple-query protocol over MzSession.

Protocol under test: the PUBLIC PG wire protocol (startup/auth,
ParameterStatus, Q/T/D/C/E/Z message flow); semantics mirrored: the
reference serving clients over pgwire (src/pgwire/src/protocol.rs).
"""

import pytest

from materialize_spark.plans.pgwire import MzPgServer, PgWireClient
from materialize_spark.plans.sqlfront import MzSession

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def served(spark):
    sess = MzSession(spark, SF_DIR)
    with MzPgServer(sess) as srv:
        with PgWireClient(srv.host, srv.port) as c:
            yield sess, c


def test_startup_parameters(served):
    _sess, c = served
    assert c.parameters.get("server_version") == "9.5.0"
    assert c.parameters.get("TimeZone") == "UTC"


def test_select_over_the_wire(served):
    _sess, c = served
    [res] = c.query("SELECT r_regionkey, r_name FROM region "
                    "ORDER BY r_regionkey")
    assert [n for n, _ in res["columns"]] == ["r_regionkey", "r_name"]
    oids = dict(res["columns"])
    assert oids["r_regionkey"] in (20, 23) and oids["r_name"] == 25
    assert len(res["rows"]) == 5
    assert res["rows"][0][0] == "0"
    assert res["tag"] == "SELECT 5"


def test_ddl_dml_multistatement_and_types(served):
    _sess, c = served
    results = c.query(
        "CREATE TABLE wire_t (k STRING, v BIGINT, ok BOOLEAN); "
        "INSERT INTO wire_t VALUES ('a', 1, true), ('b', NULL, false); "
        "SELECT * FROM wire_t ORDER BY k")
    assert results[0]["tag"] == "CREATE TABLE"
    assert results[1]["tag"] == "INSERT INTO"
    rows = results[2]["rows"]
    assert rows == [["a", "1", "t"], ["b", None, "f"]]


def test_pg_dialect_through_the_wire(served):
    _sess, c = served
    [res] = c.query("SELECT 42::int8 AS x, 'abc' ~~ 'a%' AS m, "
                    "pg_typeof(1.5::float8) AS t")
    assert res["rows"] == [["42", "t", "double precision"]]


def test_errors_keep_session_alive(served):
    _sess, c = served
    with pytest.raises(ValueError):
        c.query("SELECT * FROM no_such_relation_xyz")
    # session survives the error, like a real server
    [res] = c.query("SELECT 1 AS one")
    assert res["rows"] == [["1"]]


def test_max_result_size_over_the_wire(served):
    """An oversized result bounces with the reference's max_result_size
    error (vars.rs) instead of streaming; the session stays usable and
    RESET restores the default."""
    _sess, c = served
    c.query("SET max_result_size = '16'")
    with pytest.raises(ValueError, match="exceeds max size"):
        c.query("SELECT r_regionkey, r_name FROM region")
    c.query("RESET max_result_size")
    [res] = c.query("SELECT count(*) AS n FROM region")
    assert res["rows"] == [["5"]]


def test_rbac_enforced_over_the_wire(served):
    sess, c = served
    c.query("CREATE TABLE wire_sec (x BIGINT)")
    c.query("CREATE ROLE wire_role")
    c.query("SET ROLE wire_role")
    with pytest.raises(ValueError, match="permission denied"):
        c.query("SELECT * FROM wire_sec")
    c.query("RESET ROLE")
    assert sess._role == "materialize"


def test_shared_session_across_connections(spark):
    sess = MzSession(spark, SF_DIR)
    with MzPgServer(sess) as srv:
        with PgWireClient(srv.host, srv.port) as c1:
            c1.query("CREATE TABLE wire_shared (x BIGINT)")
            c1.query("INSERT INTO wire_shared VALUES (7)")
        with PgWireClient(srv.host, srv.port) as c2:
            [res] = c2.query("SELECT x FROM wire_shared")
            assert res["rows"] == [["7"]]


def test_reads_never_plan_under_another_connections_break(spark,
                                                          monkeypatch):
    """A commit on one connection plans its lineage breaks under scoped
    session-wide confs (one shuffle partition, no broadcasts). A query
    that a second connection runs at the same time must still plan with
    the session's own values: statements run one at a time."""
    import contextlib
    import threading
    import time

    from materialize_spark import ckpt

    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.autoBroadcastJoinThreshold")
    own = tuple(spark.conf.get(k) for k in keys)
    frame = type(spark.range(1))  # the session's concrete DataFrame class
    scoped, collect = ckpt._scoped_confs, frame.collect
    scopes, planned_with = [], []

    @contextlib.contextmanager
    def slow_scope(spark_, changes):
        with scoped(spark_, changes):
            scopes.append(changes)
            time.sleep(0.05)  # hold the scope open for the other thread
            yield

    def recording_collect(self):
        planned_with.append(
            tuple(self.sparkSession.conf.get(k) for k in keys))
        return collect(self)

    monkeypatch.setattr(ckpt, "_scoped_confs", slow_scope)
    monkeypatch.setattr(frame, "collect", recording_collect)
    sess = MzSession(spark, SF_DIR)
    errors: list = []
    with MzPgServer(sess) as srv:
        with PgWireClient(srv.host, srv.port) as w, \
                PgWireClient(srv.host, srv.port) as r:
            w.query("CREATE TABLE wire_cc (k BIGINT, v BIGINT)")
            w.query("CREATE MATERIALIZED VIEW wire_cc_mv WITH (MAINTENANCE "
                    "'delta') AS SELECT k, SUM(v) AS s FROM wire_cc "
                    "GROUP BY k")
            done = threading.Event()

            def write():
                try:
                    for i in range(8):
                        w.query(f"INSERT INTO wire_cc VALUES ({i % 3}, {i})")
                except Exception as ex:  # surfaced by the assert below
                    errors.append(ex)
                finally:
                    done.set()

            writer = threading.Thread(target=write, daemon=True)
            writer.start()
            reads, deadline = 0, time.monotonic() + 120
            while not done.is_set() and time.monotonic() < deadline:
                r.query("SELECT count(*) AS n FROM region")
                reads += 1
            writer.join(timeout=60)
            assert not writer.is_alive(), "writer did not finish"
            [res] = r.query("SELECT k, s FROM wire_cc_mv ORDER BY k")
    assert not errors
    assert res["rows"] == [["0", "9"], ["1", "12"], ["2", "7"]]
    assert reads > 0
    assert any(c.get(keys[0], ("",))[0] == "1" for c in scopes)
    assert set(planned_with) == {own}


# -- extended protocol (Parse/Bind/Describe/Execute/Sync) -------------------
def test_extended_parameterized_select(served):
    """The round-trip every real driver (psycopg/JDBC) performs for a
    parameterized query: Parse with $n + typed OIDs, Bind text params,
    Describe portal, Execute, Sync."""
    _sess, c = served
    c.prepare("st1", "SELECT r_regionkey, r_name FROM region "
                     "WHERE r_regionkey > $1 ORDER BY r_regionkey",
              param_oids=(20,))
    res = c.execute_prepared("st1", ["2"])
    assert [n for n, _ in res["columns"]] == ["r_regionkey", "r_name"]
    assert [r[0] for r in res["rows"]] == ["3", "4"]
    assert res["tag"] == "SELECT 2"
    # rebind with a different parameter — same statement
    res2 = c.execute_prepared("st1", ["0"])
    assert [r[0] for r in res2["rows"]] == ["1", "2", "3", "4"]


def test_extended_null_and_string_params(served):
    _sess, c = served
    c.prepare("st2", "SELECT $1 AS a, $2 AS b", param_oids=(25, 25))
    res = c.execute_prepared("st2", ["o'brien", None])
    assert res["rows"] == [["o'brien", None]]


def test_extended_dollar_inside_literal_untouched(served):
    _sess, c = served
    c.prepare("st3", "SELECT '$1 costs $2' AS s, $1 AS v",
              param_oids=(23,))
    res = c.execute_prepared("st3", ["7"])
    assert res["rows"] == [["$1 costs $2", "7"]]


def test_extended_portal_suspend_resume(served):
    """max_rows + PortalSuspended: Execute streams a page, 's' says
    more remain, a further Execute resumes from the cursor."""
    _sess, c = served
    c.prepare("st4", "SELECT n_nationkey FROM nation ORDER BY n_nationkey")
    res = c.execute_prepared("st4", [], max_rows=10)
    assert len(res["rows"]) == 10 and res["suspended"]
    res2 = c.resume_portal(max_rows=10)
    assert len(res2["rows"]) == 10 and res2["suspended"]
    res3 = c.resume_portal()
    assert len(res3["rows"]) == 5 and not res3["suspended"]
    assert res3["tag"] == "SELECT 25"


def test_extended_dml_and_error_recovery(served):
    _sess, c = served
    [r] = c.query("CREATE TABLE ext_t (k STRING, v BIGINT)")
    c.prepare("ins", "INSERT INTO ext_t VALUES ($1, $2)",
              param_oids=(25, 20))
    res = c.execute_prepared("ins", ["a", "1"])
    assert res["tag"].startswith("INSERT")
    c.execute_prepared("ins", ["b", "2"])
    # an error in extended mode poisons until Sync, then the session lives
    c.prepare("bad", "SELECT * FROM no_such_table_xyz")
    with pytest.raises(ValueError):
        c.execute_prepared("bad", [])
    [sel] = c.query("SELECT count(*) AS n FROM ext_t")
    assert sel["rows"] == [["2"]]


def test_extended_unknown_statement_errors(served):
    _sess, c = served
    with pytest.raises(ValueError, match="unknown prepared statement"):
        c.execute_prepared("never_parsed", [])


def test_extended_pipelined_single_write(served):
    """psycopg3/JDBC pipeline Parse+Bind+Describe+Execute+Sync in ONE
    network write and only then read. The server must process the
    buffered sequence without deadlocking or reordering."""
    import struct as _s

    from materialize_spark.plans.pgwire import _cstr

    _sess, c = served
    sql = ("SELECT n_nationkey FROM nation WHERE n_nationkey < $1 "
           "ORDER BY n_nationkey")
    parse = _cstr("") + _cstr(sql) + _s.pack(">h", 1) + _s.pack(">i", 20)
    bind = (_cstr("") + _cstr("") + _s.pack(">h", 0)
            + _s.pack(">h", 1) + _s.pack(">i", 1) + b"3"
            + _s.pack(">h", 0))
    describe = b"P" + _cstr("")
    execute = _cstr("") + _s.pack(">i", 0)
    buf = b"".join(
        tag + _s.pack(">i", 4 + len(p)) + p
        for tag, p in ((b"P", parse), (b"B", bind), (b"D", describe),
                       (b"E", execute), (b"S", b"")))
    c.sock.sendall(buf)  # ONE write, no interleaved reads
    seen = []
    rows = []
    while True:
        tag, payload = c._recv_msg()
        seen.append(tag)
        if tag == b"D":
            rows.append(payload)
        if tag == b"Z":
            break
    assert seen[0] == b"1" and b"2" in seen and b"T" in seen
    assert len(rows) == 3  # nationkeys 0,1,2
    assert seen[-2:] == [b"C", b"Z"]


def test_extended_protocol_with_namespaces(served):
    """Round-7 integration: a psycopg-style parameterized query against
    a schema-qualified table — name resolution (namespaces) composes
    with Parse/Bind/Execute (extended protocol)."""
    _sess, c = served
    c.query("CREATE SCHEMA app; "
            "CREATE TABLE app.events (k STRING, v BIGINT); "
            "INSERT INTO app.events VALUES ('a', 1), ('b', 2), ('c', 3)")
    c.prepare("nsq", "SELECT k, v FROM app.events WHERE v >= $1 "
                     "ORDER BY v", param_oids=(20,))
    res = c.execute_prepared("nsq", ["2"])
    assert res["rows"] == [["b", "2"], ["c", "3"]]
    # search_path resolution through the wire too
    c.query("SET search_path = app, public")
    c.prepare("nsq2", "SELECT count(*) AS n FROM events WHERE v < $1",
              param_oids=(20,))
    res2 = c.execute_prepared("nsq2", ["3"])
    assert res2["rows"] == [["2"]]


def test_extended_dml_portal_executes_at_most_once(served):
    """PG executes a portal at most once: a retried Execute on a completed
    DML portal must not double-apply the INSERT (round-7 ADVICE)."""
    _sess, c = served
    c.query("CREATE TABLE once_t (v BIGINT)")
    c.prepare("ins1", "INSERT INTO once_t VALUES ($1)", param_oids=(20,))
    res = c.execute_prepared("ins1", ["5"])
    assert res["tag"].startswith("INSERT")
    # re-Execute the same (now completed) portal without re-Bind
    res2 = c.resume_portal()
    assert res2["tag"].startswith("INSERT")
    [sel] = c.query("SELECT count(*) AS n FROM once_t")
    assert sel["rows"] == [["1"]]


def test_extended_backslash_param_roundtrip(served):
    """Text parameters containing backslashes round-trip verbatim: the
    dialect layer re-renders PG literals Spark-safe (round-7 ADVICE:
    _substitute_params vs Spark backslash escapes)."""
    _sess, c = served
    c.prepare("bs", "SELECT $1 AS a, length($1) AS n", param_oids=(25,))
    res = c.execute_prepared("bs", ["C:\\tmp\\x"])
    assert res["rows"] == [["C:\\tmp\\x", "8"]]
    # a parameter ENDING in a backslash must not swallow the closing quote
    res2 = c.execute_prepared("bs", ["trailing\\"])
    assert res2["rows"] == [["trailing\\", "9"]]


def test_backslash_literal_simple_query(served):
    """PG string literals treat backslash as an ordinary character."""
    _sess, c = served
    [res] = c.query(r"SELECT 'a\nb' AS s, length('a\nb') AS n")
    assert res["rows"] == [["a\\nb", "4"]]


# --------------------------------------------------------------------------
# binary formats, SCRAM-SHA-256 auth, TLS (round-8 surface)

import ssl
import struct as _struct


def test_binary_params_roundtrip(served):
    """bytes parameters go in PG BINARY format and decode server-side
    (int8 / float8 / bool / date per the public per-type encodings)."""
    _sess, c = served
    c.prepare("bp", "SELECT $1 + 1 AS a, $2 AS b, $3 AS f, $4 AS d",
              param_oids=(20, 25, 701, 1082))
    res = c.execute_prepared("bp", [
        _struct.pack(">q", 41),          # int8 binary
        "text-param",                    # text format on the same Bind
        _struct.pack(">d", 2.5),         # float8 binary
        _struct.pack(">i", 366),         # date binary: days since 2000-01-01
    ])
    assert res["rows"] == [["42", "text-param", "2.5", "2001-01-01"]]


def test_binary_bytea_param_and_null(served):
    _sess, c = served
    c.prepare("bb", "SELECT length($1) AS n, $2 AS z",
              param_oids=(17, 20))
    res = c.execute_prepared("bb", [b"\x00\x01\xff", None])
    assert res["rows"] == [["3", None]]


def test_binary_timestamp_param(served):
    _sess, c = served
    c.prepare("bt", "SELECT CAST($1 AS STRING) AS s", param_oids=(1114,))
    micros = 86_400_000_000 + 3_600_000_000  # 2000-01-02 01:00:00
    res = c.execute_prepared("bt", [_struct.pack(">q", micros)])
    assert res["rows"] == [["2000-01-02 01:00:00"]]


def test_binary_results(served):
    """Result rows in binary format: int8 big-endian, text as raw utf8."""
    _sess, c = served
    c.prepare("br", "SELECT r_regionkey, r_name FROM region "
                    "ORDER BY r_regionkey")
    res = c.execute_prepared("br", [], binary_results=True)
    keycode = {20: ">q", 23: ">i", 21: ">h"}[res["columns"][0][1]]
    assert _struct.unpack(keycode, res["rows"][0][0])[0] == 0
    assert res["rows"][0][1].decode().startswith("AFRICA")
    # RowDescription advertises binary format codes — our client keeps
    # (name, oid); spot-check the values round-trip for all 5 rows
    assert len(res["rows"]) == 5


def test_unsupported_binary_param_type_errors(served):
    _sess, c = served
    c.prepare("bu", "SELECT $1 AS x", param_oids=(600,))  # point
    with pytest.raises(ValueError, match="not supported"):
        c.execute_prepared("bu", [b"\x00" * 16])
    # connection recovers after Sync
    [res] = c.query("SELECT 1 AS one")
    assert res["rows"] == [["1"]]


def test_scram_auth_success_and_server_signature(spark):
    sess = MzSession(spark, SF_DIR)
    with MzPgServer(sess, auth={"materialize": "s3cret"}) as srv:
        with PgWireClient(srv.host, srv.port, password="s3cret") as c:
            [res] = c.query("SELECT 1 AS x")
            assert res["rows"] == [["1"]]


def test_scram_wrong_password_rejected(spark):
    sess = MzSession(spark, SF_DIR)
    with MzPgServer(sess, auth={"materialize": "s3cret"}) as srv:
        with pytest.raises(ValueError, match="authentication failed"):
            PgWireClient(srv.host, srv.port, password="wrong")


def test_scram_unknown_user_same_error_shape(spark):
    """Unknown users get the full SCRAM exchange (fake verifier) and the
    same failure message — no user enumeration."""
    sess = MzSession(spark, SF_DIR)
    with MzPgServer(sess, auth={"materialize": "s3cret"}) as srv:
        with pytest.raises(ValueError, match="authentication failed"):
            PgWireClient(srv.host, srv.port, user="intruder",
                         password="s3cret")


def test_scram_client_needs_password(spark):
    sess = MzSession(spark, SF_DIR)
    with MzPgServer(sess, auth={"materialize": "s3cret"}) as srv:
        with pytest.raises(ValueError, match="requires a password"):
            PgWireClient(srv.host, srv.port)


def test_tls_query_roundtrip(spark):
    from tests.tlsutil import client_ctx, server_ctx
    sctx, cctx = server_ctx(), client_ctx()
    sess = MzSession(spark, SF_DIR)
    with MzPgServer(sess, ssl_context=sctx) as srv:
        with PgWireClient(srv.host, srv.port, ssl_context=cctx) as c:
            [res] = c.query("SELECT count(*) AS n FROM region")
            assert res["rows"] == [["5"]]


def test_tls_plus_scram(spark):
    """TLS upgrade then SCRAM over the encrypted channel (the production
    posture: never send SCRAM exchanges in clear)."""
    from tests.tlsutil import client_ctx, server_ctx
    sctx, cctx = server_ctx(), client_ctx()
    sess = MzSession(spark, SF_DIR)
    with MzPgServer(sess, ssl_context=sctx,
                    auth={"materialize": "pw"}) as srv:
        with PgWireClient(srv.host, srv.port, ssl_context=cctx,
                          password="pw") as c:
            [res] = c.query("SELECT 2 + 2 AS four")
            assert res["rows"] == [["4"]]


def test_plaintext_client_still_works_without_tls(spark):
    sess = MzSession(spark, SF_DIR)
    with MzPgServer(sess) as srv:
        with PgWireClient(srv.host, srv.port) as c:
            [res] = c.query("SELECT 1 AS x")
            assert res["rows"] == [["1"]]


# --------------------------------------------------------------------------
# COPY sub-protocol (CopyOutResponse / CopyInResponse — the psql \copy path)

def test_copy_to_stdout_table(served):
    _sess, c = served
    [res] = c.query("COPY region TO STDOUT")
    assert len(res["rows"]) == 5
    assert res["rows"][0][0] == "0"


def test_copy_to_stdout_query_with_nulls_and_escapes(served):
    _sess, c = served
    c.query("CREATE TABLE copy_esc (k STRING, v BIGINT)")
    # PG literal semantics: backslash is an ORDINARY character, so the
    # stored value is the two characters backslash + t — and COPY's text
    # format must double it on the wire for a faithful round-trip
    c.query("INSERT INTO copy_esc VALUES ('tab\\there', 1), ('b', NULL)")
    [res] = c.query("COPY (SELECT k, v FROM copy_esc ORDER BY v) "
                    "TO STDOUT")
    rows = sorted(res["rows"])
    assert ["b", None] in rows
    assert any(r[0] == "tab\\there" for r in rows)


def test_copy_from_stdin_roundtrip(served):
    _sess, c = served
    c.query("CREATE TABLE copy_in_t (k STRING, v BIGINT, ok BOOLEAN)")
    tag = c.copy_in("COPY copy_in_t FROM STDIN",
                    [["a", "1", "true"], ["with\ttab", "2", "false"],
                     [None, "3", None]])
    assert tag == "COPY 3"
    [res] = c.query("SELECT k, v, ok FROM copy_in_t ORDER BY v")
    assert res["rows"] == [["a", "1", "t"], ["with\ttab", "2", "f"],
                           [None, "3", None]]


def test_copy_from_stdin_column_subset(served):
    _sess, c = served
    c.query("CREATE TABLE copy_cols (a BIGINT, b STRING, c BIGINT)")
    tag = c.copy_in("COPY copy_cols (c, a) FROM STDIN",
                    [["10", "1"], ["20", "2"]])
    assert tag == "COPY 2"
    [res] = c.query("SELECT a, b, c FROM copy_cols ORDER BY a")
    assert res["rows"] == [["1", None, "10"], ["2", None, "20"]]


def test_copy_from_stdin_unknown_table_errors_before_copy_mode(served):
    _sess, c = served
    with pytest.raises(ValueError, match="unknown table"):
        c.copy_in("COPY no_such_tbl FROM STDIN", [["1"]])
    # session is healthy afterwards
    [res] = c.query("SELECT 1 AS one")
    assert res["rows"] == [["1"]]


def test_copy_from_stdin_bad_arity_errors(served):
    _sess, c = served
    c.query("CREATE TABLE copy_bad (a BIGINT, b BIGINT)")
    with pytest.raises(ValueError, match="columns, expected"):
        c.copy_in("COPY copy_bad FROM STDIN", [["1"]])
    [sel] = c.query("SELECT count(*) AS n FROM copy_bad")
    assert sel["rows"] == [["0"]]


# --------------------------------------------------------------------------
# CancelRequest (psql ^C): cancels the backend's running Spark jobs

def test_backend_key_issued(served):
    _sess, c = served
    assert c.backend_key is not None
    pid, secret = c.backend_key
    assert pid > 0


def test_cancel_request_interrupts_running_query(spark):
    import threading
    import time

    sess = MzSession(spark, SF_DIR)
    with MzPgServer(sess) as srv:
        with PgWireClient(srv.host, srv.port) as c:
            result: dict = {}

            def run():
                try:
                    c.query("SELECT count(*) AS n FROM ("
                            "SELECT explode(sequence(1, 40000000)) AS a"
                            ") x, (SELECT explode(sequence(1, 40)) AS b) y")
                    result["done"] = True
                except (ValueError, ConnectionError) as ex:
                    result["err"] = str(ex)

            t = threading.Thread(target=run, daemon=True)
            t.start()
            time.sleep(2.0)  # let the job start
            c.cancel()
            t.join(timeout=45)
            assert not t.is_alive(), "query did not cancel in time"
            # either the cancel landed mid-job (error) or the query had
            # already finished (slow-box race); the first is the point
            assert "err" in result or result.get("done")
        # the SESSION survives a cancel: a fresh connection works
        with PgWireClient(srv.host, srv.port) as c2:
            [res] = c2.query("SELECT 1 AS x")
            assert res["rows"] == [["1"]]


def test_cancel_with_wrong_secret_is_ignored(spark):
    import socket as _socket
    import struct as _struct

    sess = MzSession(spark, SF_DIR)
    with MzPgServer(sess) as srv:
        with PgWireClient(srv.host, srv.port) as c:
            pid, _secret = c.backend_key
            s = _socket.create_connection((srv.host, srv.port), timeout=5)
            s.sendall(_struct.pack(">iiii", 16, 80877102, pid, 12345))
            s.close()
            # connection is unaffected
            [res] = c.query("SELECT 2 AS x")
            assert res["rows"] == [["2"]]


def test_statement_timeout_enforced(spark):
    """SET statement_timeout cancels a query that runs past the budget;
    resetting to 0 disables enforcement (reference: the coordinator's
    statement_timeout on peeks)."""
    sess = MzSession(spark, SF_DIR)
    with MzPgServer(sess) as srv:
        with PgWireClient(srv.host, srv.port) as c:
            c.query("SET statement_timeout = '500ms'")
            with pytest.raises(ValueError, match="statement timeout"):
                c.query("SELECT count(*) AS n FROM ("
                        "SELECT explode(sequence(1, 40000000)) AS a"
                        ") x, (SELECT explode(sequence(1, 40)) AS b) y")
            # connection + session survive; 0 disables the budget
            c.query("SET statement_timeout = 0")
            [res] = c.query("SELECT count(*) AS n FROM region")
            assert res["rows"] == [["5"]]


def test_statement_timeout_unit_parsing():
    ms = MzPgServer._timeout_ms
    assert ms("0") == 0 and ms("") == 0 and ms(None) == 0
    assert ms("250") == 250.0
    assert ms("250ms") == 250.0
    assert ms("2s") == 2000.0
    assert ms("1min") == 60000.0
    assert ms("garbage") == 0


def test_subscribe_streams_over_pgwire(spark):
    """One SUBSCRIBE statement, multiple pushed batches: the portal
    stays open and each committed write arrives as more DataRows
    without the client re-issuing anything; CancelRequest ends the
    stream with PG 57014 (reference src/compute/src/sink/subscribe.rs
    + protocol.rs holding the portal open)."""
    import struct as _struct

    from materialize_spark.plans.pgwire import MzPgServer, PgWireClient, _cstr
    from materialize_spark.plans.sqlfront import MzSession

    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE subw_t (k STRING, v BIGINT)")
    s.execute("INSERT INTO subw_t VALUES ('a', 1)")
    with MzPgServer(s, port=0) as srv:
        with PgWireClient("127.0.0.1", srv.port) as cli:
            body = _cstr("SUBSCRIBE subw_t")
            cli.sock.sendall(b"Q" + _struct.pack(">i", 4 + len(body))
                             + body)
            cli.sock.settimeout(30)

            def next_data_rows(want: int) -> list[list[str]]:
                rows = []
                while len(rows) < want:
                    tag, payload = cli._recv_msg()
                    if tag == b"D":
                        (n,) = _struct.unpack_from(">h", payload, 0)
                        pos, row = 2, []
                        for _ in range(n):
                            (ln,) = _struct.unpack_from(">i", payload,
                                                        pos)
                            pos += 4
                            if ln < 0:
                                row.append(None)
                            else:
                                row.append(
                                    payload[pos:pos + ln].decode())
                                pos += ln
                        rows.append(row)
                    elif tag == b"E":
                        raise AssertionError(f"error: {payload!r}")
                return rows

            # batch 1: the snapshot (RowDescription first)
            tag, _p = cli._recv_msg()
            assert tag == b"T"
            snap = next_data_rows(1)
            assert snap[0][:2] == ["a", "1"]
            # batch 2: a write committed while the portal is open
            s.execute("INSERT INTO subw_t VALUES ('b', 2)")
            b2 = next_data_rows(1)
            assert b2[0][:2] == ["b", "2"]
            # batch 3: another commit, still the same statement
            s.execute("INSERT INTO subw_t VALUES ('c', 3)")
            b3 = next_data_rows(1)
            assert b3[0][:2] == ["c", "3"]
            # Ctrl-C: CancelRequest on a new connection ends the stream
            cli.cancel()
            saw_cancel = False
            while True:
                tag, payload = cli._recv_msg()
                if tag == b"E":
                    assert b"57014" in payload
                    saw_cancel = True
                elif tag == b"Z":
                    break
            assert saw_cancel
            # the connection is reusable after the stream ends
            out = cli.query("SELECT 1 AS one")
            assert out[0]["rows"][0][0] == "1"
    s.execute("DROP TABLE subw_t")


def test_subscribe_up_to_self_terminates_over_pgwire(spark):
    """AS OF ... UP TO subscribes are bounded: one batch, then a clean
    SUBSCRIBE command tag — no open-ended stream."""
    from materialize_spark.plans.pgwire import MzPgServer, PgWireClient
    from materialize_spark.plans.sqlfront import MzSession

    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE subu_t (k STRING, v BIGINT)")
    s.execute("CREATE MATERIALIZED VIEW subu_mv AS "
              "SELECT k, SUM(v) AS total FROM subu_t GROUP BY k")
    s.execute("INSERT INTO subu_t VALUES ('a', 1)")
    s.execute("REFRESH MATERIALIZED VIEW subu_mv")
    with MzPgServer(s, port=0) as srv:
        with PgWireClient("127.0.0.1", srv.port) as cli:
            out = cli.query("SUBSCRIBE subu_mv AS OF 0 UP TO 99")
            assert out[0]["tag"].startswith("SUBSCRIBE")
            assert out[0]["rows"]
    s.execute("DROP VIEW subu_mv")
    s.execute("DROP TABLE subu_t")


def test_two_concurrent_subscribes_each_get_full_stream(spark):
    """Two clients SUBSCRIBE to the SAME object concurrently: each
    owns a per-subscriber cursor, so BOTH receive every commit (the
    old shared per-object cursor split the delta stream between
    pollers)."""
    import struct as _struct

    from materialize_spark.plans.pgwire import (MzPgServer, PgWireClient,
                                                _cstr)
    from materialize_spark.plans.sqlfront import MzSession

    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE subc_t (k STRING, v BIGINT)")
    s.execute("INSERT INTO subc_t VALUES ('a', 1)")

    def start_subscribe(cli):
        body = _cstr("SUBSCRIBE subc_t")
        cli.sock.sendall(b"Q" + _struct.pack(">i", 4 + len(body)) + body)
        cli.sock.settimeout(30)
        tag, _p = cli._recv_msg()
        assert tag == b"T"

    def next_data_rows(cli, want):
        rows = []
        while len(rows) < want:
            tag, payload = cli._recv_msg()
            if tag == b"D":
                (n,) = _struct.unpack_from(">h", payload, 0)
                pos, row = 2, []
                for _ in range(n):
                    (ln,) = _struct.unpack_from(">i", payload, pos)
                    pos += 4
                    if ln < 0:
                        row.append(None)
                    else:
                        row.append(payload[pos:pos + ln].decode())
                        pos += ln
                rows.append(row)
            elif tag == b"E":
                raise AssertionError(f"error: {payload!r}")
        return rows

    with MzPgServer(s, port=0) as srv:
        with PgWireClient("127.0.0.1", srv.port) as c1, \
                PgWireClient("127.0.0.1", srv.port) as c2:
            start_subscribe(c1)
            assert next_data_rows(c1, 1)[0][:2] == ["a", "1"]
            start_subscribe(c2)  # late subscriber: own full snapshot
            assert next_data_rows(c2, 1)[0][:2] == ["a", "1"]
            s.execute("INSERT INTO subc_t VALUES ('b', 2)")
            # BOTH streams carry the commit — no splitting
            assert next_data_rows(c1, 1)[0][:2] == ["b", "2"]
            assert next_data_rows(c2, 1)[0][:2] == ["b", "2"]
            s.execute("INSERT INTO subc_t VALUES ('c', 3)")
            assert next_data_rows(c2, 1)[0][:2] == ["c", "3"]
            assert next_data_rows(c1, 1)[0][:2] == ["c", "3"]
    s.execute("DROP TABLE subc_t")


def test_subscribe_as_of_without_up_to_keeps_streaming(spark):
    """Plain AS OF (no UP TO) streams on after its historical batch —
    the reference's SUBSCRIBE AS OF semantics (not self-terminating)."""
    import struct as _struct

    from materialize_spark.plans.pgwire import (MzPgServer, PgWireClient,
                                                _cstr)
    from materialize_spark.plans.sqlfront import MzSession

    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE suba_t (k STRING, v BIGINT)")
    s.execute("CREATE MATERIALIZED VIEW suba_mv AS "
              "SELECT k, SUM(v) AS total FROM suba_t GROUP BY k")
    s.execute("INSERT INTO suba_t VALUES ('a', 1)")
    s.execute("REFRESH MATERIALIZED VIEW suba_mv")
    with MzPgServer(s, port=0) as srv:
        with PgWireClient("127.0.0.1", srv.port) as cli:
            body = _cstr("SUBSCRIBE suba_mv AS OF 0")
            cli.sock.sendall(b"Q" + _struct.pack(">i", 4 + len(body))
                             + body)
            cli.sock.settimeout(30)
            tag, _p = cli._recv_msg()
            assert tag == b"T"
            got = []
            while len(got) < 1:  # the AS OF 0 history: the epoch-1 diff
                tag, payload = cli._recv_msg()
                if tag == b"D":
                    got.append(payload)
                elif tag == b"E":
                    raise AssertionError(payload)
            assert b"a" in got[0]
            # a LIVE commit after the historical batch still arrives
            s.execute("INSERT INTO suba_t VALUES ('b', 7)")
            s.execute("REFRESH MATERIALIZED VIEW suba_mv")
            tag, payload = cli._recv_msg()
            while tag != b"D":
                tag, payload = cli._recv_msg()
            assert b"b" in payload
            cli.cancel()
            while True:
                tag, payload = cli._recv_msg()
                if tag == b"Z":
                    break
    s.execute("DROP VIEW suba_mv")
    s.execute("DROP TABLE suba_t")


def test_as_of_stream_datarow_field_counts_match_rowdesc(spark):
    """Wire conformance for the streaming AS OF subscribe: every pushed
    DataRow must declare exactly the RowDescription's field count (the
    historical batch carries mz_timestamp; pushed commit frames are
    stamped with the same column)."""
    import struct as _struct

    from materialize_spark.plans.pgwire import (MzPgServer, PgWireClient,
                                                _cstr)
    from materialize_spark.plans.sqlfront import MzSession

    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE subfc_t (k STRING, v BIGINT)")
    s.execute("CREATE MATERIALIZED VIEW subfc_mv AS "
              "SELECT k, SUM(v) AS total FROM subfc_t GROUP BY k")
    s.execute("INSERT INTO subfc_t VALUES ('a', 1)")
    s.execute("REFRESH MATERIALIZED VIEW subfc_mv")
    with MzPgServer(s, port=0) as srv:
        with PgWireClient("127.0.0.1", srv.port) as cli:
            body = _cstr("SUBSCRIBE subfc_mv AS OF 0")
            cli.sock.sendall(b"Q" + _struct.pack(">i", 4 + len(body))
                             + body)
            cli.sock.settimeout(30)
            tag, payload = cli._recv_msg()
            assert tag == b"T"
            (nfields,) = _struct.unpack_from(">h", payload, 0)

            def assert_row_conforms(payload):
                (n,) = _struct.unpack_from(">h", payload, 0)
                assert n == nfields
                pos = 2
                for _ in range(n):  # walk every cell; must consume all
                    (ln,) = _struct.unpack_from(">i", payload, pos)
                    pos += 4 + max(ln, 0)
                assert pos == len(payload)

            # historical batch row(s)
            tag, payload = cli._recv_msg()
            while tag != b"D":
                tag, payload = cli._recv_msg()
            assert_row_conforms(payload)
            # a LIVE pushed frame must conform too (the r10 bug: one
            # fewer serialized cell than the declared field count)
            s.execute("INSERT INTO subfc_t VALUES ('b', 7)")
            s.execute("REFRESH MATERIALIZED VIEW subfc_mv")
            tag, payload = cli._recv_msg()
            while tag != b"D":
                tag, payload = cli._recv_msg()
            assert_row_conforms(payload)
            cli.cancel()
            while True:
                tag, payload = cli._recv_msg()
                if tag == b"Z":
                    break
    s.execute("DROP VIEW subfc_mv")
    s.execute("DROP TABLE subfc_t")


def test_failed_snapshot_collect_closes_cursor(spark):
    """If the snapshot collect fails (result-size cap), the stream
    handler must close the already-registered cursor — otherwise every
    later commit checkpoints frames into a dead queue forever."""
    import struct as _struct

    from materialize_spark.plans.pgwire import (MzPgServer, PgWireClient,
                                                _cstr)
    from materialize_spark.plans.sqlfront import MzSession

    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE sublk_t (k STRING, v BIGINT)")
    for i in range(4):
        s.execute(f"INSERT INTO sublk_t VALUES ('k{i}', {i})")
    s.execute("SET max_result_size = 1")  # trip the cap on collect
    try:
        with MzPgServer(s, port=0) as srv:
            with PgWireClient("127.0.0.1", srv.port) as cli:
                body = _cstr("SUBSCRIBE sublk_t")
                cli.sock.sendall(
                    b"Q" + _struct.pack(">i", 4 + len(body)) + body)
                cli.sock.settimeout(30)
                saw_err = False
                while True:
                    tag, payload = cli._recv_msg()
                    if tag == b"E":
                        saw_err = True
                    elif tag == b"Z":
                        break
                assert saw_err
        assert s._subscriptions == {}  # cursor closed, not leaked
    finally:
        s.execute("RESET max_result_size")
    s.execute("DROP TABLE sublk_t")


def test_subscribe_query_streams_over_pgwire(spark):
    """SUBSCRIBE (SELECT ...) over the wire: the ephemeral maintained
    view streams pushed commits like any named object, and cancel tears
    the ephemeral view down."""
    import struct as _struct

    from materialize_spark.plans.pgwire import (MzPgServer, PgWireClient,
                                                _cstr)
    from materialize_spark.plans.sqlfront import MzSession

    s = MzSession(spark, SF_DIR)
    s.execute("CREATE TABLE sqw_t (k STRING, v BIGINT)")
    s.execute("INSERT INTO sqw_t VALUES ('a', 1)")
    with MzPgServer(s, port=0) as srv:
        with PgWireClient("127.0.0.1", srv.port) as cli:
            body = _cstr("SUBSCRIBE (SELECT k, SUM(v) AS total "
                         "FROM sqw_t GROUP BY k)")
            cli.sock.sendall(b"Q" + _struct.pack(">i", 4 + len(body))
                             + body)
            cli.sock.settimeout(30)
            tag, _p = cli._recv_msg()
            assert tag == b"T"
            tag, payload = cli._recv_msg()
            while tag != b"D":
                tag, payload = cli._recv_msg()
            assert b"a" in payload  # snapshot: (a, 1, +1)
            s.execute("INSERT INTO sqw_t VALUES ('b', 7)")
            tag, payload = cli._recv_msg()
            while tag != b"D":
                tag, payload = cli._recv_msg()
            assert b"b" in payload  # pushed delta for the new group
            cli.cancel()
            while True:
                tag, payload = cli._recv_msg()
                if tag == b"Z":
                    break
    # the ephemeral view is torn down after the stream ends
    assert not any(k.startswith("__subq") for k in s._delta_mvs)
    assert not any(k.startswith("__subq") for k in s._matviews)
    s.execute("DROP TABLE sqw_t")
