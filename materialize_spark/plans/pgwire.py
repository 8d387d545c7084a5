"""pgwire server front-end: serve MzSession over the PG wire protocol.

Reference: the reference speaks the PostgreSQL wire protocol to clients
(/root/reference/src/pgwire/src/protocol.rs — startup, simple query,
RowDescription/DataRow/CommandComplete, ErrorResponse), which is how
psql/BI tools connect. This module implements the SIMPLE query protocol
(protocol 3.0) from the public spec (postgresql.org/docs/current/
protocol-flow.html) over :class:`MzSession`:

- startup: trust auth by default; with ``auth=`` the server requires
  SCRAM-SHA-256 (RFC 7677, the PG password method — protocol.rs
  AuthenticationSASL flow), storing only derived verifiers; with
  ``ssl_context=`` SSLRequest upgrades the connection to TLS
  (server.rs TlsMode) — otherwise it is declined with 'N';
  ParameterStatus (server_version etc.), BackendKeyData, ReadyForQuery;
- 'Q' simple query: statements split token-aware, executed through the
  full engine surface (DDL, DML, SELECT/peek, SHOW, SUBSCRIBE, RBAC —
  everything MzSession.execute handles); result relations render as
  RowDescription (type OIDs from the Spark schema) + text-format
  DataRows + CommandComplete; DDL returns its command tag;
- errors → ErrorResponse with the Python message, then ReadyForQuery
  (the session survives, like a real server);
- the EXTENDED protocol (reference protocol.rs extended-query state
  machine: Parse/Bind/Describe/Execute/Close/Flush/Sync), which is what
  real drivers (psycopg, JDBC) use for every parameterized query:
  Parse stores a named prepared statement with $n parameters; Bind
  substitutes text- or binary-format parameters (per-type PG binary
  encodings for bool/int2/4/8/float4/8/text/bytea/date/timestamp) as
  typed SQL literals into a portal, honoring requested result format
  codes (binary results use the same per-type encodings); Describe
  returns ParameterDescription/RowDescription (the
  portal's query is PLANNED lazily for its schema — Spark DataFrames
  are plans, so this has no side effects); Execute streams DataRows
  with the max-row/PortalSuspended resume protocol; errors put the
  connection in error state until Sync, per the spec.

A matching minimal client (``PgWireClient``) is included for tests and
tooling, reusing the same public protocol (it is NOT needed to talk to
the server — any PG simple-protocol client works).

Scale note: the server is a serving-layer veneer — each query executes
through exactly the same Spark plans as the Python API; rendering
streams the collected result (peeks are the reference's serving path
too, coord/peek.rs).
"""

from __future__ import annotations

import datetime
import re
import secrets
import socket
import struct
import threading

from materialize_spark.plans.sqlfront import MzSession

# Spark simpleString -> PG type OID (text format); default 25 (text)
_OIDS = {
    "boolean": 16, "bigint": 20, "smallint": 21, "int": 23,
    "string": 25, "float": 700, "double": 701, "date": 1082,
    "timestamp": 1114, "timestamp_ntz": 1114, "binary": 17,
}


def _cstr(s: str) -> bytes:
    return s.encode() + b"\0"


def _param_indices(sql: str) -> list[str]:
    """$n parameter numbers in a statement, quote-aware (mirrors
    _substitute_params's scan)."""
    out = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c in ("'", '"'):
            j = i + 1
            while j < n:
                if sql[j] == c:
                    if j + 1 < n and sql[j + 1] == c:
                        j += 2
                        continue
                    break
                j += 1
            i = j + 1
            continue
        if c == "$" and i + 1 < n and sql[i + 1] == "$":
            end = sql.find("$$", i + 2)
            i = n if end < 0 else end + 2
            continue
        if c == "$" and i + 1 < n and sql[i + 1].isdigit():
            j = i + 1
            while j < n and sql[j].isdigit():
                j += 1
            out.append(sql[i + 1:j])
            i = j
            continue
        i += 1
    return out


# SCRAM-SHA-256 primitives shared with the Kafka SASL path
from materialize_spark import scram as _scram
from materialize_spark.scram import scram_attrs as _scram_attrs
from materialize_spark.scram import scram_verifier

# PG binary-format parameter decoding: OID -> text-format equivalent
# (postgresql.org/docs/current/protocol-overview.html "Formats and Format
# Codes"; per-type formats match PG's *send/*recv pairs)
_PG_DATE_EPOCH = datetime.date(2000, 1, 1)
_PG_TS_EPOCH = datetime.datetime(2000, 1, 1)


def _decode_binary_param(v: bytes, oid: int) -> bytes:
    """Binary Bind value → its text-format rendering (the literal
    substitution path consumes text)."""
    if oid == 16:
        return b"t" if v != b"\x00" else b"f"
    if oid == 21:
        return str(struct.unpack(">h", v)[0]).encode()
    if oid == 23:
        return str(struct.unpack(">i", v)[0]).encode()
    if oid == 20:
        return str(struct.unpack(">q", v)[0]).encode()
    if oid == 700:
        return repr(struct.unpack(">f", v)[0]).encode()
    if oid == 701:
        return repr(struct.unpack(">d", v)[0]).encode()
    if oid == 17:
        return b"\\x" + v.hex().encode()
    if oid in (25, 1042, 1043, 705, 0):  # text-family: identical bytes
        return v
    if oid == 1082:
        days = struct.unpack(">i", v)[0]
        return (_PG_DATE_EPOCH
                + datetime.timedelta(days=days)).isoformat().encode()
    if oid in (1114, 1184):
        micros = struct.unpack(">q", v)[0]
        ts = _PG_TS_EPOCH + datetime.timedelta(microseconds=micros)
        return ts.strftime("%Y-%m-%d %H:%M:%S.%f").encode()
    raise ValueError(f"binary-format parameter type oid {oid} "
                     "not supported; send text format")


_BINARY_SIMPLES = frozenset(
    {"boolean", "smallint", "int", "bigint", "float", "double", "binary",
     "string", "date"})


def _binary_encodable(simple: str) -> bool:
    """Whether a column TYPE is servable in binary result format — checked
    per type, not by probing a row's values: a NULL cell passes any probe
    while a later non-NULL cell of an unsupported type would blow up
    mid-DataRow-stream."""
    return simple in _BINARY_SIMPLES or simple.startswith("timestamp")


def _encode_binary_cell(v, simple: str) -> bytes | None:
    """Result cell → PG binary wire format for the common OIDs; raises for
    types we only serve as text."""
    if v is None:
        return None
    if simple == "boolean":
        return b"\x01" if v else b"\x00"
    if simple == "smallint":
        return struct.pack(">h", v)
    if simple == "int":
        return struct.pack(">i", v)
    if simple == "bigint":
        return struct.pack(">q", v)
    if simple == "float":
        return struct.pack(">f", v)
    if simple == "double":
        return struct.pack(">d", v)
    if simple == "binary":
        return bytes(v)
    if simple == "string":
        return str(v).encode()
    if simple == "date":
        return struct.pack(">i", (v - _PG_DATE_EPOCH).days)
    if simple.startswith("timestamp"):
        delta = v - _PG_TS_EPOCH
        micros = (delta.days * 86_400_000_000 + delta.seconds * 1_000_000
                  + delta.microseconds)
        return struct.pack(">q", micros)
    raise ValueError(f"binary result format not supported for {simple}; "
                     "request text format")


# COPY sub-protocol (postgresql.org/docs/current/protocol-flow.html
# "COPY Operations"; reference protocol.rs CopyOut/CopyIn responses).
# Text format: tab-separated, \n-terminated, \N for NULL, backslash
# escapes for the delimiter characters.
_COPY_RE = re.compile(
    r"^\s*COPY\s+(?:(?P<src>\(.*\)|[\w.\"]+)\s+TO\s+STDOUT"
    r"|(?P<tbl>[\w.\"]+)\s*(?:\((?P<cols>[^)]*)\))?\s+FROM\s+STDIN)"
    r"\s*;?\s*$", re.IGNORECASE | re.DOTALL)


def _copy_escape(s: str) -> str:
    return (s.replace("\\", "\\\\").replace("\t", "\\t")
            .replace("\n", "\\n").replace("\r", "\\r"))


def _copy_unescape(s: str) -> str:
    out = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "\\" and i + 1 < n:
            nxt = s[i + 1]
            out.append({"t": "\t", "n": "\n", "r": "\r",
                        "\\": "\\"}.get(nxt, nxt))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _render(v) -> bytes | None:
    """Text-format cell rendering (PG conventions)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return b"t" if v else b"f"
    if isinstance(v, (bytes, bytearray)):
        return b"\\x" + bytes(v).hex().encode()
    return str(v).encode()


class MzPgServer:
    """Threaded pgwire server over one MzSession (session state —
    catalog, roles, variables — is shared across connections, like one
    environment in the reference)."""

    def __init__(self, session: MzSession, host: str = "127.0.0.1",
                 port: int = 0, *, auth: dict[str, str] | None = None,
                 ssl_context=None):
        """``auth``: user → password map; when given, startup requires
        SCRAM-SHA-256 (RFC 7677) — only the derived verifier is kept.
        ``ssl_context``: an ``ssl.SSLContext``; when given, SSLRequest is
        answered 'S' and the connection upgrades to TLS (reference
        src/pgwire/src/server.rs TlsMode)."""
        self.session = session
        self._auth = {u: scram_verifier(p) for u, p in (auth or {}).items()}
        self._ssl_ctx = ssl_context
        # CancelRequest bookkeeping: backend pid -> secret key
        self._backends: dict[int, int] = {}
        # per-backend cancel flags (streaming SUBSCRIBE polls these —
        # cancelJobGroup alone can't interrupt a sleep between batches)
        self._cancel_events: dict[int, threading.Event] = {}
        self._next_pid = 0
        self._key_lock = threading.Lock()
        self._tls = threading.local()  # per-connection job-group name
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind((host, port))
        self._srv.listen(16)
        self.host, self.port = self._srv.getsockname()
        self._stop = threading.Event()
        threading.Thread(target=self._accept_loop, daemon=True).start()

    def close(self) -> None:
        self._stop.set()
        try:
            self._srv.close()
        except OSError:
            pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    # -- wire ----------------------------------------------------------------
    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _ = self._srv.accept()
            except OSError:
                return
            threading.Thread(target=self._serve, args=(conn,),
                             daemon=True).start()

    @staticmethod
    def _recv_exact(conn: socket.socket, n: int) -> bytes | None:
        buf = bytearray()
        while len(buf) < n:
            chunk = conn.recv(n - len(buf))
            if not chunk:
                return None
            buf += chunk
        return bytes(buf)

    @staticmethod
    def _msg(tag: bytes, payload: bytes = b"") -> bytes:
        return tag + struct.pack(">i", 4 + len(payload)) + payload

    # -- statement_timeout ---------------------------------------------------
    @staticmethod
    def _timeout_ms(raw: str) -> float:
        """PG statement_timeout values: bare int = ms; 'Ns'/'Nms'/'Nmin'
        accepted (vars.rs parses the same unit suffixes)."""
        raw = (raw or "0").strip().lower()
        for suffix, mult in (("ms", 1.0), ("min", 60_000.0),
                             ("s", 1000.0)):
            if raw.endswith(suffix):
                try:
                    return float(raw[:-len(suffix)]) * mult
                except ValueError:
                    return 0.0
        try:
            return float(raw)
        except ValueError:
            return 0.0

    def _collect(self, df):
        """collect() under the session's statement_timeout: a watchdog
        cancels this backend's job group when the budget elapses
        (reference: the coordinator enforces statement_timeout on peeks).
        The collect plans the query, so it holds the session's
        statement_lock like every other statement."""
        ms = self._timeout_ms(self.session._vars.get("statement_timeout"))
        group = getattr(self._tls, "group", None)
        if ms <= 0 or group is None:
            with self.session.statement_lock:
                rows = df.collect()
            return self.session.check_result_size(rows)
        import time as _time
        done = threading.Event()
        fired = threading.Event()
        sc = self.session.spark.sparkContext

        def watchdog():
            if done.wait(ms / 1000.0):
                return
            fired.set()
            # cancelJobGroup only kills ACTIVE jobs — a statement still
            # planning at expiry would otherwise slip through, so keep
            # re-cancelling until the collect returns
            while not done.is_set():
                sc.cancelJobGroup(group)
                _time.sleep(0.2)

        threading.Thread(target=watchdog, daemon=True).start()
        try:
            with self.session.statement_lock:
                rows = df.collect()
            return self.session.check_result_size(rows)
        except Exception:
            if fired.is_set():
                raise ValueError(
                    "canceling statement due to statement timeout")
            raise
        finally:
            done.set()

    def _serve(self, conn: socket.socket) -> None:
        pid = None
        try:
            while True:  # startup may retry after SSLRequest
                raw = self._recv_exact(conn, 4)
                if raw is None:
                    return
                (size,) = struct.unpack(">i", raw)
                body = self._recv_exact(conn, size - 4)
                if body is None:
                    return
                (code,) = struct.unpack_from(">i", body, 0)
                if code == 80877103:  # SSLRequest
                    if self._ssl_ctx is not None:
                        conn.sendall(b"S")
                        conn = self._ssl_ctx.wrap_socket(conn,
                                                         server_side=True)
                    else:
                        conn.sendall(b"N")
                    continue
                if code == 80877104:  # GSSENCRequest
                    conn.sendall(b"N")
                    continue
                if code == 80877102:  # CancelRequest (psql Ctrl-C):
                    # arrives on its OWN connection carrying the target
                    # backend's key (protocol-flow "Canceling Requests");
                    # cancel that backend's running Spark jobs.
                    pid, secret = struct.unpack_from(">ii", body, 4)
                    if self._backends.get(pid) == secret:
                        ev = self._cancel_events.get(pid)
                        if ev is not None:
                            ev.set()
                        self.session.spark.sparkContext.cancelJobGroup(
                            f"pgwire-cancel-{pid}")
                    return  # no response, per the spec
                if code != 196608:
                    conn.sendall(self._msg(
                        b"E", b"SFATAL\0C0A000\0"
                              b"Munsupported protocol version\0\0"))
                    return
                break
            params = body[4:].split(b"\0")
            startup = {params[i].decode(): params[i + 1].decode()
                       for i in range(0, len(params) - 1, 2) if params[i]}
            # max_connections (vars.rs; PG SQLSTATE 53300): active
            # backends are the entries _serve hasn't popped yet
            limit = self.session._size_bytes(
                self.session._vars.get("max_connections", "0"))
            if limit > 0 and len(self._backends) >= limit:
                conn.sendall(self._msg(
                    b"E", b"SFATAL\0C53300\0"
                          b"Mtoo many connections\0\0"))
                return
            # network-policy gate (reference adapter check on new
            # sessions; 28000 = invalid_authorization_specification)
            try:
                peer = conn.getpeername()[0]
                self.session.check_network(peer)
            except PermissionError as ex:
                conn.sendall(self._msg(
                    b"E", b"SFATAL\0C28000\0M" + str(ex).encode()
                          + b"\0\0"))
                return
            except OSError:
                pass
            if self._auth and not self._scram_handshake(
                    conn, startup.get("user", "")):
                return
            conn.sendall(self._msg(b"R", struct.pack(">i", 0)))  # AuthOk
            for k, v in (("server_version", "9.5.0"),
                         ("client_encoding", "UTF8"),
                         ("DateStyle", "ISO, MDY"),
                         ("TimeZone", "UTC"),
                         ("integer_datetimes", "on")):
                conn.sendall(self._msg(b"S", _cstr(k) + _cstr(v)))
            # per-connection backend key; this thread's Spark jobs join a
            # cancelable job group (local properties are thread-local)
            with self._key_lock:
                self._next_pid += 1
                pid = self._next_pid
            secret = secrets.randbits(31)
            self._backends[pid] = secret
            self.session.spark.sparkContext.setJobGroup(
                f"pgwire-cancel-{pid}", f"pgwire backend {pid}",
                interruptOnCancel=True)
            self._tls.group = f"pgwire-cancel-{pid}"
            self._cancel_events[pid] = threading.Event()
            self._tls.cancel = self._cancel_events[pid]
            conn.sendall(self._msg(b"K", struct.pack(">ii", pid, secret)))
            conn.sendall(self._msg(b"Z", b"I"))
            # extended-protocol connection state (protocol.rs keeps the
            # same per-connection maps of prepared statements + portals)
            stmts: dict[str, tuple[str, tuple[int, ...]]] = {}
            portals: dict[str, dict] = {}
            in_error = False  # skip-until-Sync after an extended error
            while True:
                tag = self._recv_exact(conn, 1)
                if tag is None:
                    return
                (sz,) = struct.unpack(">i", self._recv_exact(conn, 4))
                payload = self._recv_exact(conn, sz - 4)
                if tag == b"X":
                    return
                if tag == b"S":  # Sync: leave error state, ReadyForQuery
                    in_error = False
                    conn.sendall(self._msg(b"Z", b"I"))
                    continue
                if in_error and tag in (b"P", b"B", b"E", b"D", b"C",
                                        b"H"):
                    continue  # discarded until Sync, per the spec
                if tag == b"Q":
                    self._simple_query(conn, payload.rstrip(b"\0").decode())
                elif tag == b"P":
                    in_error = not self._parse(conn, payload, stmts)
                elif tag == b"B":
                    in_error = not self._bind(conn, payload, stmts, portals)
                elif tag == b"D":
                    in_error = not self._describe(conn, payload, stmts,
                                                  portals)
                elif tag == b"E":
                    in_error = not self._execute(conn, payload, portals)
                elif tag == b"C":
                    kind = payload[0:1]
                    name = payload[1:].split(b"\0")[0].decode()
                    (stmts if kind == b"S" else portals).pop(name, None)
                    conn.sendall(self._msg(b"3"))  # CloseComplete
                elif tag == b"H":  # Flush — we already send eagerly
                    pass
        except (ConnectionError, OSError):
            pass
        finally:
            if pid is not None:
                self._backends.pop(pid, None)
                self._cancel_events.pop(pid, None)
            try:
                conn.close()
            except OSError:
                pass

    # -- SCRAM-SHA-256 startup auth ------------------------------------------
    def _scram_handshake(self, conn, user: str) -> bool:
        """RFC 7677 over the PG SASL messages (AuthenticationSASL /
        SASLInitialResponse / SASLContinue / SASLResponse / SASLFinal).
        Returns True on success; on failure sends FATAL 28P01 and False."""
        def fatal(msg: str) -> bool:
            conn.sendall(self._msg(
                b"E", b"SFATAL\0C28P01\0M" + msg.encode() + b"\0\0"))
            return False

        conn.sendall(self._msg(
            b"R", struct.pack(">i", 10) + _cstr("SCRAM-SHA-256") + b"\0"))
        tag = self._recv_exact(conn, 1)
        if tag != b"p":
            return fatal("expected SASLInitialResponse")
        (sz,) = struct.unpack(">i", self._recv_exact(conn, 4))
        body = self._recv_exact(conn, sz - 4)
        end = body.index(0)
        mech = body[:end].decode()
        (dlen,) = struct.unpack_from(">i", body, end + 1)
        first = body[end + 5:end + 5 + dlen].decode()
        if mech != "SCRAM-SHA-256":
            return fatal(f"unsupported SASL mechanism {mech}")
        # Unknown users get a deterministic fake verifier (same message
        # shape, proof can never match) — no user enumeration.
        ver = self._auth.get(user) or scram_verifier(
            secrets.token_hex(16), salt=_scram.h(user.encode())[:16])
        try:
            sf, st = _scram.server_first(ver, first)
        except ValueError as ex:
            return fatal(str(ex))
        conn.sendall(self._msg(
            b"R", struct.pack(">i", 11) + sf.encode()))
        tag = self._recv_exact(conn, 1)
        if tag != b"p":
            return fatal("expected SASLResponse")
        (sz,) = struct.unpack(">i", self._recv_exact(conn, 4))
        final = self._recv_exact(conn, sz - 4).decode()
        ok, server_final = _scram.server_verify(ver, st, final)
        if not ok or user not in self._auth:
            return fatal(f'password authentication failed for user "{user}"')
        conn.sendall(self._msg(
            b"R", struct.pack(">i", 12) + server_final.encode()))
        return True

    # -- extended protocol ---------------------------------------------------
    # PG type OID → SQL cast target for substituted parameter literals
    _PARAM_CASTS = {16: "boolean", 20: "bigint", 21: "smallint", 23: "int",
                    700: "float", 701: "double", 1082: "date",
                    1114: "timestamp", 1700: "decimal(38,9)"}
    _QUERY_HEADS = frozenset(
        ["select", "show", "with", "values", "table", "explain"])

    def _ext_error(self, conn: socket.socket, message: str) -> bool:
        """ErrorResponse in extended mode; returns False (→ error state:
        the caller discards messages until Sync, per the spec)."""
        self._send_error(conn, message)
        return False

    def _parse(self, conn, payload: bytes,
               stmts: dict[str, tuple[str, tuple[int, ...]]]) -> bool:
        try:
            end = payload.index(0)
            name = payload[:end].decode()
            end2 = payload.index(0, end + 1)
            sql = payload[end + 1:end2].decode()
            (n,) = struct.unpack_from(">h", payload, end2 + 1)
            oids = struct.unpack_from(f">{n}i", payload, end2 + 3)
        except (ValueError, struct.error) as ex:
            return self._ext_error(conn, f"malformed Parse: {ex}")
        stmts[name] = (sql, tuple(oids))
        conn.sendall(self._msg(b"1"))  # ParseComplete
        return True

    @staticmethod
    def _substitute_params(sql: str, values: list[bytes | None],
                           oids: tuple[int, ...]) -> str:
        """Replace $n placeholders with typed SQL literals (text-format
        parameters). Quote-aware: $n inside string literals, quoted
        identifiers, or dollar-quoted strings is left alone."""
        out = []
        i, n = 0, len(sql)
        while i < n:
            c = sql[i]
            if c in ("'", '"'):
                j = i + 1
                while j < n:
                    if sql[j] == c:
                        if j + 1 < n and sql[j + 1] == c:  # '' escape
                            j += 2
                            continue
                        break
                    j += 1
                out.append(sql[i:j + 1])
                i = j + 1
                continue
            if c == "$" and i + 1 < n and sql[i + 1] == "$":
                end = sql.find("$$", i + 2)  # dollar-quoted string
                end = n if end < 0 else end + 2
                out.append(sql[i:end])
                i = end
                continue
            if c == "$" and i + 1 < n and sql[i + 1].isdigit():
                j = i + 1
                while j < n and sql[j].isdigit():
                    j += 1
                idx = int(sql[i + 1:j]) - 1
                if idx < 0 or idx >= len(values):
                    raise ValueError(f"parameter ${idx + 1} not bound")
                v = values[idx]
                oid = oids[idx] if idx < len(oids) else 0
                if v is None:
                    lit = "NULL"
                elif oid == 17:  # bytea: text format is \x<hex>
                    hexs = v.decode()
                    lit = "X'" + (hexs[2:] if hexs.startswith("\\x")
                                  else hexs) + "'"
                else:
                    lit = "'" + v.decode().replace("'", "''") + "'"
                cast = MzPgServer._PARAM_CASTS.get(oid)
                out.append(f"CAST({lit} AS {cast})" if cast and v is not None
                           else lit)
                i = j
                continue
            out.append(c)
            i += 1
        return "".join(out)

    def _bind(self, conn, payload: bytes, stmts, portals) -> bool:
        try:
            end = payload.index(0)
            portal = payload[:end].decode()
            end2 = payload.index(0, end + 1)
            stmt = payload[end + 1:end2].decode()
            pos = end2 + 1
            (nfmt,) = struct.unpack_from(">h", payload, pos)
            pos += 2
            fmts = struct.unpack_from(f">{nfmt}h", payload, pos)
            pos += 2 * nfmt
            (nval,) = struct.unpack_from(">h", payload, pos)
            pos += 2
            raw: list[tuple[bytes | None, int]] = []
            for k in range(nval):
                (ln,) = struct.unpack_from(">i", payload, pos)
                pos += 4
                fmt = fmts[k] if nfmt == nval else (
                    fmts[0] if nfmt == 1 else 0)
                if ln < 0:
                    raw.append((None, fmt))
                else:
                    raw.append((payload[pos:pos + ln], fmt))
                    pos += ln
            (nrf,) = struct.unpack_from(">h", payload, pos)
            pos += 2
            rfmts = struct.unpack_from(f">{nrf}h", payload, pos)
        except (ValueError, struct.error) as ex:
            return self._ext_error(conn, f"malformed Bind: {ex}")
        if stmt not in stmts:
            return self._ext_error(conn,
                                   f"unknown prepared statement {stmt!r}")
        sql, oids = stmts[stmt]
        try:
            # binary-format parameters decode to their text renderings,
            # then share the literal-substitution path (reference
            # protocol.rs accepts both format codes per parameter)
            values: list[bytes | None] = []
            for k, (v, fmt) in enumerate(raw):
                if fmt == 1 and v is not None:
                    oid = oids[k] if k < len(oids) else 0
                    v = _decode_binary_param(v, oid)
                values.append(v)
        except (ValueError, struct.error) as ex:
            return self._ext_error(conn, str(ex))
        try:
            bound = self._substitute_params(sql, values, oids)
        except ValueError as ex:
            return self._ext_error(conn, str(ex))
        head = bound.lstrip().split(None, 1)
        portals[portal] = {
            "sql": bound, "df": None, "rows": None, "cursor": 0,
            "is_query": bool(head) and head[0].lower() in self._QUERY_HEADS,
            "rfmts": tuple(rfmts),  # result format codes (0 text, 1 binary)
        }
        conn.sendall(self._msg(b"2"))  # BindComplete
        return True

    def _plan_portal(self, p: dict):
        """Plan (not run) a query portal's DataFrame once. Spark
        DataFrames are lazy plans, so this is the side-effect-free
        schema source Describe needs."""
        if p["df"] is None:
            p["df"] = self.session.execute(p["sql"])
        return p["df"]

    def _describe(self, conn, payload: bytes, stmts, portals) -> bool:
        kind = payload[0:1]
        name = payload[1:].split(b"\0")[0].decode()
        if kind == b"S":
            if name not in stmts:
                return self._ext_error(
                    conn, f"unknown prepared statement {name!r}")
            sql, oids = stmts[name]
            nparams = max(
                [int(m) for m in _param_indices(sql)] + [len(oids)])
            desc = struct.pack(">h", nparams)
            for k in range(nparams):
                desc += struct.pack(
                    ">i", oids[k] if k < len(oids) and oids[k] else 25)
            conn.sendall(self._msg(b"t", desc))  # ParameterDescription
            head = sql.lstrip().split(None, 1)
            if head and head[0].lower() in self._QUERY_HEADS:
                try:
                    nulls = [None] * nparams
                    df = self.session.execute(
                        self._substitute_params(sql, nulls, oids))
                    conn.sendall(self._msg(b"T", self._row_desc(df)))
                except Exception:
                    conn.sendall(self._msg(b"n"))  # NoData
            else:
                conn.sendall(self._msg(b"n"))
            return True
        if name not in portals:
            return self._ext_error(conn, f"unknown portal {name!r}")
        p = portals[name]
        if not p["is_query"]:
            conn.sendall(self._msg(b"n"))
            return True
        try:
            df = self._plan_portal(p)
        except Exception as ex:
            return self._ext_error(conn, str(ex))
        if df is None:
            conn.sendall(self._msg(b"n"))
            return True
        try:
            desc = self._row_desc(df, p.get("rfmts", ()))
        except ValueError as ex:
            return self._ext_error(conn, str(ex))
        conn.sendall(self._msg(b"T", desc))
        return True

    def _execute(self, conn, payload: bytes, portals) -> bool:
        try:
            end = payload.index(0)
            name = payload[:end].decode()
            (max_rows,) = struct.unpack_from(">i", payload, end + 1)
        except (ValueError, struct.error) as ex:
            return self._ext_error(conn, f"malformed Execute: {ex}")
        if name not in portals:
            return self._ext_error(conn, f"unknown portal {name!r}")
        p = portals[name]
        try:
            if p["rows"] is None:
                out = self._plan_portal(p) if p["is_query"] else \
                    self.session.execute(p["sql"])
                if out is None:  # DDL / DML
                    head = p["sql"].lstrip().split(None, 2)
                    tag = " ".join(head[:2]).upper() if head else "OK"
                    # PG executes a portal at most once: mark it complete
                    # so a retried Execute does not re-apply the statement.
                    p["rows"] = []
                    p["df"] = None
                    p["tag"] = tag
                    conn.sendall(self._msg(b"C", _cstr(tag)))
                    return True
                p["df"] = out
                p["rows"] = self._collect(out)
                p["cursor"] = 0
        except Exception as ex:
            return self._ext_error(conn, str(ex))
        if p["df"] is None:  # completed DDL/DML portal re-executed
            conn.sendall(self._msg(b"C", _cstr(p.get("tag", "OK"))))
            return True
        rows, cur = p["rows"], p["cursor"]
        stop = len(rows) if max_rows <= 0 else min(len(rows),
                                                   cur + max_rows)
        fields = p["df"].schema.fields
        nf = len(fields)
        simples = [f.dataType.simpleString() for f in fields]
        try:
            fmts = self._col_fmts(p.get("rfmts", ()), nf)
            # pre-validate binary encodability by column TYPE (a value
            # probe is fooled by NULLs in the first row)
            bad = next((simples[k] for k in range(nf) if fmts[k] == 1
                        and not _binary_encodable(simples[k])), None)
            if bad is not None:
                raise ValueError(
                    f"binary result format not supported for {bad}; "
                    "request text format")
        except ValueError as ex:
            return self._ext_error(conn, str(ex))
        try:
            for row in rows[cur:stop]:
                conn.sendall(self._msg(b"D", self._data_row(
                    row, nf, fmts, simples)))
        except ValueError as ex:  # belt-and-braces: clean ErrorResponse
            return self._ext_error(conn, str(ex))
        p["cursor"] = stop
        if stop < len(rows):
            conn.sendall(self._msg(b"s"))  # PortalSuspended — resumable
        else:
            conn.sendall(self._msg(b"C", _cstr(f"SELECT {stop}")))
        return True

    @staticmethod
    def _col_fmts(rfmts: tuple[int, ...], ncols: int) -> list[int]:
        """Resolve Bind's result-format codes to one per column (PG rule:
        zero codes → all text; one code → applies to every column)."""
        if not rfmts:
            return [0] * ncols
        if len(rfmts) == 1:
            return [rfmts[0]] * ncols
        if len(rfmts) != ncols:
            raise ValueError(
                f"{len(rfmts)} result format codes for {ncols} columns")
        return list(rfmts)

    @staticmethod
    def _row_desc(df, rfmts: tuple[int, ...] = ()) -> bytes:
        fields = df.schema.fields
        fmts = MzPgServer._col_fmts(rfmts, len(fields))
        desc = struct.pack(">h", len(fields))
        for f, fmt in zip(fields, fmts):
            simple = f.dataType.simpleString()
            oid = (1700 if simple.startswith("decimal")
                   else _OIDS.get(simple, 25))
            desc += (_cstr(f.name)
                     + struct.pack(">ihihih", 0, 0, oid, -1, -1, fmt))
        return desc

    @staticmethod
    def _data_row(row, nfields: int, fmts: list[int] | None = None,
                  simples: list[str] | None = None) -> bytes:
        cells = struct.pack(">h", nfields)
        for k, v in enumerate(row):
            if fmts and fmts[k] == 1:
                r = _encode_binary_cell(v, simples[k])
            else:
                r = _render(v)
            if r is None:
                cells += struct.pack(">i", -1)
            else:
                cells += struct.pack(">i", len(r)) + r
        return cells

    def _simple_query(self, conn: socket.socket, sql: str) -> None:
        from materialize_spark.plans.lexer import split_statements
        try:
            stmts = split_statements(sql)
        except Exception as ex:
            self._send_error(conn, str(ex))
            conn.sendall(self._msg(b"Z", b"I"))
            return
        if not stmts:
            conn.sendall(self._msg(b"I"))  # EmptyQueryResponse
            conn.sendall(self._msg(b"Z", b"I"))
            return
        for stmt in stmts:
            copy = _COPY_RE.match(stmt)
            if copy:
                try:
                    self._copy_statement(conn, copy)
                except Exception as ex:
                    self._send_error(conn, str(ex))
                    break
                continue
            if re.match(r"\s*SUBSCRIBE\b", stmt, re.I):
                self._stream_subscribe(conn, stmt)
                break  # the stream owns the connection until it ends
            try:
                out = self.session.execute(stmt)
            except Exception as ex:
                self._send_error(conn, str(ex))
                break
            if out is None:
                head = stmt.lstrip().split(None, 2)
                tag = " ".join(head[:2]).upper() if head else "OK"
                conn.sendall(self._msg(b"C", _cstr(tag)))
                continue
            try:
                rows = self._collect(out)  # before RowDescription: a
                # timeout/cancel renders as a clean ErrorResponse
            except Exception as ex:
                self._send_error(conn, str(ex))
                break
            conn.sendall(self._msg(b"T", self._row_desc(out)))
            nf = len(out.schema.fields)
            n = 0
            for row in rows:
                conn.sendall(self._msg(b"D", self._data_row(row, nf)))
                n += 1
            conn.sendall(self._msg(b"C", _cstr(f"SELECT {n}")))
        conn.sendall(self._msg(b"Z", b"I"))

    def _stream_subscribe(self, conn: socket.socket, stmt: str) -> None:
        """SUBSCRIBE streamed over the wire: the portal stays open and
        every COMMIT pushes its delta batch as more DataRows — the
        reference's subscribe protocol semantics (src/compute/src/
        sink/subscribe.rs; protocol.rs holds the portal open), not a
        poll-per-statement model. Each stream owns a per-subscriber
        cursor (session.subscribe_open) fed by commit diff frames and
        woken by the commit clock — O(delta) per commit, zero work when
        nothing commits, and concurrent subscribers each get the full
        stream. The stream ends on CancelRequest (error 57014, like
        psql Ctrl-C on a subscribe), client disconnect, or — for
        AS OF ... UP TO — after its one bounded batch (the
        self-terminating form; plain AS OF keeps streaming, like the
        reference)."""
        import select as _select
        cancel = getattr(self._tls, "cancel", None)
        # NB: no ReadyForQuery here on any path — _simple_query sends
        # the single trailing Z after this returns
        try:
            sub_id, first, node = self.session.subscribe_open(stmt)
        except Exception as ex:
            self._send_error(conn, str(ex))
            return
        # everything past open runs under the finally that closes the
        # cursor: a failing snapshot collect (result-size cap) must not
        # leave a registered cursor eating every future commit's frames
        try:
            try:
                rows = self._collect(first)
            except Exception as ex:
                self._send_error(conn, str(ex))
                return
            conn.sendall(self._msg(b"T", self._row_desc(first)))
            nf = len(first.schema.fields)
            n = 0
            for row in rows:
                conn.sendall(self._msg(b"D", self._data_row(row, nf)))
                n += 1
            if node.up_to is not None:
                # bounded subscribe (AS OF ... UP TO): one batch, clean
                # completion; the cursor was never registered
                conn.sendall(self._msg(b"C", _cstr(f"SUBSCRIBE {n}")))
                return
            # the frontier captured at cursor registration — NOT the
            # clock read now, after hundreds of ms of snapshot work
            seq = self.session.subscribe_seq(sub_id)
            while cancel is None or not cancel.is_set():
                # Hangup/Terminate detection without consuming pipelined
                # messages: select-readability then MSG_PEEK. Only a
                # Terminate is drained; any other pipelined message
                # stays buffered for the outer simple-query loop, so
                # the protocol never desyncs. The socket keeps NO
                # timeout armed — sendall below always runs blocking,
                # so a slow reader can't shear a DataRow mid-frame.
                readable, _, _ = _select.select([conn], [], [], 0)
                if readable:
                    try:
                        peek = conn.recv(1, socket.MSG_PEEK)
                    except OSError:
                        return
                    if not peek:
                        return  # EOF: client hung up
                    if peek == b"X":
                        conn.recv(5)  # drain the full Terminate
                        return
                try:
                    if self.session.wait_commit(seq, 0.1) == seq:
                        continue  # timeout tick: nothing committed
                    seq = self.session.commit_seq()
                    delta = self.session.subscribe_poll(sub_id)
                    batch = (self._collect(delta)
                             if delta is not None else [])
                except Exception as ex:
                    self._send_error(conn, str(ex))
                    return
                for row in batch:
                    conn.sendall(self._msg(b"D",
                                           self._data_row(row, nf)))
                    n += 1
            # canceled: PG 57014 query_canceled, then ReadyForQuery —
            # exactly what psql shows when Ctrl-C ends a subscribe
            conn.sendall(self._msg(
                b"E", b"SERROR\0C57014\0"
                      b"Mcanceling statement due to user request\0\0"))
        finally:
            self.session.subscribe_close(sub_id)
            if cancel is not None:
                cancel.clear()

    # -- COPY sub-protocol ---------------------------------------------------
    def _copy_statement(self, conn: socket.socket, m) -> None:
        """COPY ... TO STDOUT / COPY ... FROM STDIN over the wire (the
        psql \\copy path; reference protocol.rs CopyOutResponse /
        CopyInResponse). Text format only, like the engine's COPY."""
        if m.group("src") is not None:  # COPY ... TO STDOUT
            src = m.group("src").strip()
            if src.startswith("("):
                df = self.session.execute(src[1:-1])
            else:
                df = self.session.execute(
                    f"SELECT * FROM {src.strip(chr(34))}")
            rows = self._collect(df)
            nf = len(df.schema.fields)
            conn.sendall(self._msg(
                b"H", struct.pack(">bh", 0, nf)
                + struct.pack(f">{nf}h", *([0] * nf))))
            for row in rows:
                line = "\t".join(
                    "\\N" if v is None
                    else _copy_escape(_render(v).decode())
                    for v in row) + "\n"
                conn.sendall(self._msg(b"d", line.encode()))
            conn.sendall(self._msg(b"c"))
            conn.sendall(self._msg(b"C", _cstr(f"COPY {len(rows)}")))
            return
        # COPY tbl [(cols)] FROM STDIN — resolve the target BEFORE
        # CopyInResponse so an unknown table errors without entering
        # copy-in mode
        tbl = m.group("tbl").strip(chr(34))
        target = self.session.catalog._tables.get(tbl)
        if target is None:
            raise KeyError(f"unknown table {tbl!r}")
        cols = ([c.strip().strip(chr(34)) for c in
                 m.group("cols").split(",")] if m.group("cols")
                else list(target.columns))
        unknown = [c for c in cols if c not in target.columns]
        if unknown:
            raise KeyError(f"unknown column(s) {unknown} in {tbl!r}")
        conn.sendall(self._msg(
            b"G", struct.pack(">bh", 0, len(cols))
            + struct.pack(f">{len(cols)}h", *([0] * len(cols)))))
        buf = bytearray()
        failed = None
        while True:
            tag = self._recv_exact(conn, 1)
            if tag is None:
                raise ConnectionError("client vanished mid-COPY")
            (sz,) = struct.unpack(">i", self._recv_exact(conn, 4))
            payload = self._recv_exact(conn, sz - 4)
            if tag == b"d":
                buf += payload
            elif tag == b"c":
                break
            elif tag == b"f":  # CopyFail
                failed = payload.rstrip(b"\0").decode() or "COPY aborted"
                break
            # other messages (Flush/Sync) are ignored in copy-in mode
        if failed is not None:
            raise ValueError(f"COPY failed: {failed}")
        lines = [ln for ln in buf.decode().split("\n")
                 if ln and ln != "\\."]
        data = [[None if c == "\\N" else _copy_unescape(c)
                 for c in ln.split("\t")] for ln in lines]
        bad = next((r for r in data if len(r) != len(cols)), None)
        if bad is not None:
            raise ValueError(
                f"COPY row has {len(bad)} columns, expected {len(cols)}")
        if data:
            types = {f.name: f.dataType.simpleString()
                     for f in target.schema.fields}
            incoming = self.session.spark.createDataFrame(
                data, ", ".join(f"{c} string" for c in cols))
            exprs = [
                (f"CAST({c} AS {types[c]}) AS {c}" if c in cols
                 else f"CAST(NULL AS {types[c]}) AS {c}")
                for c in target.columns]
            typed = incoming.selectExpr(*exprs)
            # route through the session append helper so delta-maintained
            # MVs over this table see the inserted rows as +1 diffs
            self.session.append_rows(tbl, typed)
        conn.sendall(self._msg(b"C", _cstr(f"COPY {len(data)}")))

    def _send_error(self, conn: socket.socket, message: str) -> None:
        payload = (b"SERROR\0CXX000\0M"
                   + message.encode("utf-8", "replace") + b"\0\0")
        conn.sendall(self._msg(b"E", payload))


# --------------------------------------------------------------------------
# minimal simple-protocol client (tests/tooling; any PG client also works)
class PgWireClient:
    def __init__(self, host: str, port: int, *, user: str = "materialize",
                 database: str = "materialize", password: str | None = None,
                 ssl_context=None, timeout: float = 60):
        # 60s default: the recv timeout is a fail-fast guard against a
        # hung server, not a latency bound — a COPY/commit that feeds
        # maintained MVs legitimately runs Spark jobs before
        # CommandComplete, and 10s tripped under parallel-suite load.
        self.sock = socket.create_connection((host, port), timeout=timeout)
        if ssl_context is not None:
            # SSLRequest: expect 'S', then wrap (public protocol flow)
            self.sock.sendall(struct.pack(">ii", 8, 80877103))
            resp = self.sock.recv(1)
            if resp != b"S":
                raise ValueError("server refused TLS")
            self.sock = ssl_context.wrap_socket(self.sock,
                                                server_hostname=host)
        params = (_cstr("user") + _cstr(user)
                  + _cstr("database") + _cstr(database) + b"\0")
        self.sock.sendall(struct.pack(">ii", 8 + len(params), 196608)
                          + params)
        self.parameters: dict[str, str] = {}
        self.backend_key: tuple[int, int] | None = None
        self._peer = (host, port)
        self._ssl_ctx = ssl_context
        scram: dict | None = None
        while True:
            tag, payload = self._recv_msg()
            if tag == b"K":  # BackendKeyData — held for CancelRequest
                self.backend_key = struct.unpack(">ii", payload)
            elif tag == b"R":
                (code,) = struct.unpack_from(">i", payload, 0)
                if code == 0:
                    pass
                elif code == 10:  # AuthenticationSASL
                    mechs = payload[4:].split(b"\0")
                    if b"SCRAM-SHA-256" not in mechs:
                        raise ValueError(f"no shared SASL mechanism "
                                         f"in {mechs}")
                    if password is None:
                        raise ValueError("server requires a password")
                    first, scram = _scram.client_first()
                    first = first.encode()
                    body = (_cstr("SCRAM-SHA-256")
                            + struct.pack(">i", len(first)) + first)
                    self.sock.sendall(b"p" + struct.pack(
                        ">i", 4 + len(body)) + body)
                elif code == 11:  # SASLContinue: server-first-message
                    assert scram is not None
                    final, scram = _scram.client_final(
                        password, scram, payload[4:].decode())
                    final = final.encode()
                    self.sock.sendall(b"p" + struct.pack(
                        ">i", 4 + len(final)) + final)
                elif code == 12:  # SASLFinal: verify server signature
                    assert scram is not None
                    if not _scram.client_check(scram,
                                               payload[4:].decode()):
                        raise ValueError("server signature mismatch "
                                         "(not the real server?)")
                else:
                    raise ValueError(f"unsupported auth {code}")
            elif tag == b"S":
                k, _, v = payload.rstrip(b"\0").partition(b"\0")
                self.parameters[k.decode()] = v.decode()
            elif tag == b"E":
                fields = payload.split(b"\0")
                msg = next((f[1:].decode() for f in fields
                            if f.startswith(b"M")), repr(payload))
                raise ValueError(f"startup error: {msg}")
            elif tag == b"Z":
                break

    def close(self) -> None:
        try:
            self.sock.sendall(b"X" + struct.pack(">i", 4))
        except OSError:
            pass
        try:
            self.sock.close()
        except OSError:
            pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    def _recv_exact(self, n: int) -> bytes:
        buf = bytearray()
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("server closed connection")
            buf += chunk
        return bytes(buf)

    def _recv_msg(self) -> tuple[bytes, bytes]:
        tag = self._recv_exact(1)
        (size,) = struct.unpack(">i", self._recv_exact(4))
        return tag, self._recv_exact(size - 4)

    def query(self, sql: str) -> list[dict]:
        """Run a simple query; returns one result-set dict per statement:
        {"columns": [(name, oid)], "rows": [[str|None]], "tag": str} —
        raises on the first ErrorResponse."""
        body = _cstr(sql)
        self.sock.sendall(b"Q" + struct.pack(">i", 4 + len(body)) + body)
        results: list[dict] = []
        cur: dict | None = None
        err: str | None = None
        copy_buf: bytearray | None = None
        while True:
            tag, payload = self._recv_msg()
            if tag == b"H":  # CopyOutResponse
                copy_buf = bytearray()
            elif tag == b"d" and copy_buf is not None:
                copy_buf += payload
            elif tag == b"c" and copy_buf is not None:
                lines = [ln for ln in copy_buf.decode().split("\n") if ln]
                cur = {"columns": [], "tag": "",
                       "rows": [[None if c == "\\N" else _copy_unescape(c)
                                 for c in ln.split("\t")]
                                for ln in lines]}
                copy_buf = None
            elif tag == b"T":
                (n,) = struct.unpack_from(">h", payload, 0)
                pos = 2
                cols = []
                for _ in range(n):
                    end = payload.index(0, pos)
                    name = payload[pos:end].decode()
                    pos = end + 1
                    _tbl, _att, oid, _sz, _mod, _fmt = struct.unpack_from(
                        ">ihihih", payload, pos)
                    pos += 18
                    cols.append((name, oid))
                cur = {"columns": cols, "rows": [], "tag": ""}
            elif tag == b"D":
                assert cur is not None
                (n,) = struct.unpack_from(">h", payload, 0)
                pos = 2
                row = []
                for _ in range(n):
                    (ln,) = struct.unpack_from(">i", payload, pos)
                    pos += 4
                    if ln < 0:
                        row.append(None)
                    else:
                        row.append(payload[pos:pos + ln].decode())
                        pos += ln
                cur["rows"].append(row)
            elif tag == b"C":
                tag_s = payload.rstrip(b"\0").decode()
                if cur is None:
                    cur = {"columns": [], "rows": [], "tag": tag_s}
                else:
                    cur["tag"] = tag_s
                results.append(cur)
                cur = None
            elif tag == b"E":
                fields = payload.split(b"\0")
                msg = next((f[1:].decode() for f in fields
                            if f.startswith(b"M")), "unknown error")
                err = msg
            elif tag == b"I":  # EmptyQueryResponse
                pass
            elif tag == b"Z":
                if err is not None:
                    raise ValueError(err)
                return results

    def cancel(self) -> None:
        """CancelRequest on a NEW connection carrying this backend's key
        (protocol-flow "Canceling Requests") — how psql implements ^C."""
        if self.backend_key is None:
            raise ValueError("no BackendKeyData received")
        pid, secret = self.backend_key
        s = socket.create_connection(self._peer, timeout=10)
        try:
            if self._ssl_ctx is not None:
                s.sendall(struct.pack(">ii", 8, 80877103))
                if s.recv(1) == b"S":
                    s = self._ssl_ctx.wrap_socket(
                        s, server_hostname=self._peer[0])
            s.sendall(struct.pack(">iiii", 16, 80877102, pid, secret))
        finally:
            try:
                s.close()
            except OSError:
                pass

    def copy_in(self, sql: str, rows: list[list[str | None]]) -> str:
        """COPY ... FROM STDIN: send the statement, stream the rows as
        CopyData in text format, CopyDone; returns the command tag."""
        body = _cstr(sql)
        self.sock.sendall(b"Q" + struct.pack(">i", 4 + len(body)) + body)
        tag, payload = self._recv_msg()
        if tag == b"E":
            fields = payload.split(b"\0")
            msg = next((f[1:].decode() for f in fields
                        if f.startswith(b"M")), "unknown error")
            # drain to ReadyForQuery before raising
            while self._recv_msg()[0] != b"Z":
                pass
            raise ValueError(msg)
        if tag != b"G":
            raise ValueError(f"expected CopyInResponse, got {tag!r}")
        for row in rows:
            line = ("\t".join("\\N" if c is None else _copy_escape(c)
                              for c in row) + "\n").encode()
            self.sock.sendall(b"d" + struct.pack(">i", 4 + len(line))
                              + line)
        self.sock.sendall(b"c" + struct.pack(">i", 4))
        cmd, err = "", None
        while True:
            tag, payload = self._recv_msg()
            if tag == b"C":
                cmd = payload.rstrip(b"\0").decode()
            elif tag == b"E":
                fields = payload.split(b"\0")
                err = next((f[1:].decode() for f in fields
                            if f.startswith(b"M")), "unknown error")
            elif tag == b"Z":
                if err is not None:
                    raise ValueError(err)
                return cmd

    # -- extended protocol (Parse/Bind/Describe/Execute/Sync) ---------------
    def _send(self, tag: bytes, payload: bytes = b"") -> None:
        self.sock.sendall(tag + struct.pack(">i", 4 + len(payload))
                          + payload)

    def prepare(self, name: str, sql: str,
                param_oids: tuple[int, ...] = ()) -> None:
        body = (_cstr(name) + _cstr(sql)
                + struct.pack(">h", len(param_oids))
                + b"".join(struct.pack(">i", o) for o in param_oids))
        self._send(b"P", body)
        self._send(b"S")
        self._drain_until_ready(expect=b"1")

    def execute_prepared(self, name: str,
                         params: list[str | bytes | None],
                         *, max_rows: int = 0, portal: str = "",
                         binary_results: bool = False) -> dict:
        """Bind + Describe(portal) + Execute + Sync round-trip; returns
        {"columns": [(name, oid)], "rows": [[str|None]], "tag": str,
        "suspended": bool}. A ``bytes`` parameter is sent in BINARY
        format (PG per-type wire encoding); str params go as text.
        ``binary_results`` requests every result column in binary format
        (rows then hold raw ``bytes``)."""
        fmts = b"".join(
            struct.pack(">h", 1 if isinstance(p, (bytes, bytearray))
                        else 0) for p in params)
        vals = b""
        for p in params:
            if p is None:
                vals += struct.pack(">i", -1)
            else:
                b = p if isinstance(p, (bytes, bytearray)) else p.encode()
                vals += struct.pack(">i", len(b)) + bytes(b)
        body = (_cstr(portal) + _cstr(name)
                + struct.pack(">h", len(params)) + fmts  # per-param fmts
                + struct.pack(">h", len(params)) + vals
                + (struct.pack(">hh", 1, 1) if binary_results
                   else struct.pack(">h", 0)))
        self._send(b"B", body)
        self._send(b"D", b"P" + _cstr(portal))
        self._send(b"E", _cstr(portal) + struct.pack(">i", max_rows))
        self._send(b"S")
        return self._collect_extended(binary=binary_results)

    def resume_portal(self, portal: str = "", *, max_rows: int = 0) -> dict:
        """Continue a suspended portal (PortalSuspended resume)."""
        self._send(b"E", _cstr(portal) + struct.pack(">i", max_rows))
        self._send(b"S")
        return self._collect_extended()

    def _drain_until_ready(self, expect: bytes | None = None) -> None:
        seen = set()
        err = None
        while True:
            tag, payload = self._recv_msg()
            seen.add(tag)
            if tag == b"E":
                fields = payload.split(b"\0")
                err = next((f[1:].decode() for f in fields
                            if f.startswith(b"M")), "unknown error")
            elif tag == b"Z":
                if err is not None:
                    raise ValueError(err)
                if expect is not None and expect not in seen:
                    raise ValueError(f"expected {expect!r}, saw {seen}")
                return

    def _collect_extended(self, binary: bool = False) -> dict:
        out = {"columns": [], "rows": [], "tag": "", "suspended": False}
        err = None
        while True:
            tag, payload = self._recv_msg()
            if tag == b"T":
                (n,) = struct.unpack_from(">h", payload, 0)
                pos = 2
                for _ in range(n):
                    end = payload.index(0, pos)
                    name = payload[pos:end].decode()
                    pos = end + 1
                    _t, _a, oid, _s, _m, _f = struct.unpack_from(
                        ">ihihih", payload, pos)
                    pos += 18
                    out["columns"].append((name, oid))
            elif tag == b"D":
                (n,) = struct.unpack_from(">h", payload, 0)
                pos = 2
                row = []
                for _ in range(n):
                    (ln,) = struct.unpack_from(">i", payload, pos)
                    pos += 4
                    if ln < 0:
                        row.append(None)
                    else:
                        cell = payload[pos:pos + ln]
                        row.append(cell if binary else cell.decode())
                        pos += ln
                out["rows"].append(row)
            elif tag == b"C":
                out["tag"] = payload.rstrip(b"\0").decode()
            elif tag == b"s":
                out["suspended"] = True
            elif tag == b"E":
                fields = payload.split(b"\0")
                err = next((f[1:].decode() for f in fields
                            if f.startswith(b"M")), "unknown error")
            elif tag == b"Z":
                if err is not None:
                    raise ValueError(err)
                return out
