"""HTTP SQL API: POST /api/sql over MzSession.

Reference: the reference serves SQL over HTTP alongside pgwire
(/root/reference/src/environmentd/src/http/sql.rs) — request is either
``{"query": "sql; sql2"}`` (simple) or ``{"queries": [{"query": "...",
"params": [...]}]}`` (extended, $n text parameters); response is
``{"results": [...]}`` with per-statement variants ``Rows {tag, rows,
desc.columns[{name,type_oid,type_len,type_mod}], notices}`` /
``Ok {ok, notices}`` / ``Err {error: {message, code}, notices}``
(sql.rs:521-610,720,781-809). This is the curl/JS-client path; the
engine serves the same MzSession surface the pgwire front-end does.

Auth: optional users map — HTTP Basic (RFC 7617), verified against the
same derived-verifier store SCRAM uses (the password re-derives the
stored key; plaintext never persists). Optional TLS via ssl_context.

Scale note: a serving veneer like pgwire — each statement executes the
session's ordinary Spark plans; rendering collects the peek result.
"""

from __future__ import annotations

import base64
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from materialize_spark import scram as _scram
from materialize_spark.plans.pgwire import _OIDS, MzPgServer, _render
from materialize_spark.plans.sqlfront import MzSession


def _verify_password(ver: dict, password: str) -> bool:
    import hashlib
    import hmac

    salted = hashlib.pbkdf2_hmac("sha256", password.encode(),
                                 ver["salt"], ver["iterations"])
    client_key = _scram.hm(salted, b"Client Key")
    return hmac.compare_digest(_scram.h(client_key), ver["stored_key"])


def _desc(df) -> dict:
    cols = []
    for f in df.schema.fields:
        simple = f.dataType.simpleString()
        oid = (1700 if simple.startswith("decimal")
               else _OIDS.get(simple, 25))
        cols.append({"name": f.name, "type_oid": oid,
                     "type_len": -1, "type_mod": -1})
    return {"columns": cols}


def _cell(v):
    """JSON cell rendering: JSON-native scalars pass through, everything
    else uses the pgwire text form (sql.rs renders Datum→serde_json)."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    r = _render(v)
    return r.decode() if r is not None else None


# -- RFC 6455 WebSocket primitives (the /api/experimental/sql surface;
# reference environmentd src/environmentd/src/http/sql.rs WS handler) --
_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"


def _ws_accept_key(key: str) -> str:
    import hashlib
    return base64.b64encode(
        hashlib.sha1((key + _WS_GUID).encode()).digest()).decode()


def _ws_send(sock, payload: str, opcode: int = 1) -> None:
    import struct
    data = payload.encode()
    hdr = bytes([0x80 | opcode])
    n = len(data)
    if n < 126:
        hdr += bytes([n])
    elif n < 65536:
        hdr += bytes([126]) + struct.pack(">H", n)
    else:
        hdr += bytes([127]) + struct.pack(">Q", n)
    sock.sendall(hdr + data)


# Largest client frame the server will buffer. Frames are read before
# the auth handshake completes, so an uncapped length field (2^63 via
# the 127 extended form) would be an unauthenticated memory-exhaustion
# vector; beyond the cap the server closes with RFC 6455 code 1009
# (Message Too Big).
_WS_MAX_FRAME = 4 * 1024 * 1024


def _ws_recv(sock):
    """One frame → (opcode, payload) or None on EOF (at ANY read point —
    a truncated header never raises); client frames are masked per the
    spec. Raises TimeoutError under a socket timeout."""
    import struct

    def exact(n):
        buf = b""
        while len(buf) < n:
            chunk = sock.recv(n - len(buf))
            if not chunk:
                return None
            buf += chunk
        return buf

    head = exact(2)
    if head is None:
        return None
    opcode = head[0] & 0x0F
    masked = head[1] & 0x80
    n = head[1] & 0x7F
    if n == 126:
        ext = exact(2)
        if ext is None:
            return None
        (n,) = struct.unpack(">H", ext)
    elif n == 127:
        ext = exact(8)
        if ext is None:
            return None
        (n,) = struct.unpack(">Q", ext)
    if n > _WS_MAX_FRAME:
        try:  # close 1009 before buffering anything
            sock.sendall(bytes([0x88, 0x02]) + struct.pack(">H", 1009))
        except OSError:
            pass
        return None
    if masked:
        mask = exact(4)
        if mask is None:
            return None
    else:
        mask = b"\x00" * 4
    data = exact(n) if n else b""
    if data is None:
        return None
    if masked:
        data = bytes(b ^ mask[i % 4] for i, b in enumerate(data))
    return opcode, data


class MzHttpServer:
    """Threaded HTTP SQL endpoint over one MzSession."""

    def __init__(self, session: MzSession, host: str = "127.0.0.1",
                 port: int = 0, *, auth: dict[str, str] | None = None,
                 ssl_context=None):
        self.session = session
        self._auth = ({u: _scram.scram_verifier(p)
                       for u, p in auth.items()} if auth else None)
        # constant-cost decoy for unknown-user Basic auth attempts
        self._dummy_verifier = _scram.scram_verifier("decoy")
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _reply(self, code: int, payload: dict) -> None:
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _authorized(self) -> bool:
                if outer._auth is None:
                    return True
                hdr = self.headers.get("Authorization", "")
                if not hdr.startswith("Basic "):
                    return False
                try:
                    user, _, pw = base64.b64decode(
                        hdr[6:]).decode().partition(":")
                except Exception:
                    return False
                ver = outer._auth.get(user)
                if ver is None:
                    # unknown users pay the same PBKDF2 cost as known
                    # ones (the pgwire SCRAM path's fake-verifier
                    # defense) so Basic auth can't enumerate users by
                    # response timing
                    _verify_password(outer._dummy_verifier, pw)
                    return False
                return _verify_password(ver, pw)

            def do_GET(self):
                # /api/experimental/sql: the WebSocket SQL surface
                # (reference environmentd src/environmentd/src/http —
                # the interface that streams SUBSCRIBE over HTTP)
                if self.path != "/api/experimental/sql":
                    self._reply(404, {"error": "unknown endpoint"})
                    return
                key = self.headers.get("Sec-WebSocket-Key")
                if self.headers.get("Upgrade", "").lower() != "websocket" \
                        or not key:
                    self._reply(400, {"error": "expected websocket "
                                               "upgrade"})
                    return
                try:
                    session.check_network(self.client_address[0])
                except PermissionError as ex:
                    self._reply(403, {"error": str(ex)})
                    return
                self.send_response(101, "Switching Protocols")
                self.send_header("Upgrade", "websocket")
                self.send_header("Connection", "Upgrade")
                self.send_header("Sec-WebSocket-Accept",
                                 _ws_accept_key(key))
                self.end_headers()
                self.close_connection = True
                try:
                    outer._serve_ws(self.connection)
                except (ConnectionError, OSError):
                    pass

            def do_POST(self):
                if self.path != "/api/sql":
                    self._reply(404, {"error": "unknown endpoint"})
                    return
                # network-policy gate (reference: environmentd applies
                # the active policy to HTTP sessions too)
                try:
                    session.check_network(self.client_address[0])
                except PermissionError as ex:
                    self._reply(403, {"error": str(ex)})
                    return
                if not self._authorized():
                    self.send_response(401)
                    self.send_header("WWW-Authenticate",
                                     'Basic realm="materialize"')
                    self.end_headers()
                    return
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                    req = json.loads(self.rfile.read(n) or b"{}")
                except (ValueError, json.JSONDecodeError) as ex:
                    self._reply(400, {"error": f"invalid JSON: {ex}"})
                    return
                try:
                    results = outer._run(req)
                except ValueError as ex:
                    self._reply(400, {"error": str(ex)})
                    return
                self._reply(200, {"results": results})

        self._srv = ThreadingHTTPServer((host, port), Handler)
        if ssl_context is not None:
            self._srv.socket = ssl_context.wrap_socket(
                self._srv.socket, server_side=True)
        self.host, self.port = self._srv.server_address[:2]
        threading.Thread(target=self._srv.serve_forever,
                         daemon=True).start()

    def close(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    # -- WebSocket serve loop -------------------------------------------------
    def _collect(self, df) -> list:
        """Collect ``df`` under the session's statement_lock (the collect
        plans the query; see MzSession.statement_lock)."""
        with self.session.statement_lock:
            rows = df.collect()
        return self.session.check_result_size(rows)

    def _serve_ws(self, sock) -> None:
        """The reference's WS message protocol over one connection:
        client sends JSON {"query": "..."} frames; the server answers
        each statement with Rows / Row* / CommandComplete (or Error),
        then ReadyForQuery. SUBSCRIBE holds the stream open and pushes
        each commit's delta rows as more Row messages until the client
        closes or sends another frame (treated as cancel). With auth
        configured the FIRST frame must be {"user", "password"}."""
        import json as _json

        from materialize_spark.plans.lexer import split_statements

        def send(kind, payload=None):
            _ws_send(sock, _json.dumps({"type": kind,
                                        "payload": payload}))

        if self._auth is not None:
            got = _ws_recv(sock)
            if got is None:
                return
            try:
                init = _json.loads(got[1].decode() or "{}")
            except ValueError:
                init = {}
            ver = self._auth.get(init.get("user", ""))
            if ver is None:
                _verify_password(self._dummy_verifier,
                                 init.get("password", ""))
                ok = False
            else:
                ok = _verify_password(ver, init.get("password", ""))
            if not ok:
                send("Error", {"message": "invalid credentials",
                               "code": "28P01"})
                _ws_send(sock, "", opcode=8)
                return
        send("ReadyForQuery", "I")
        while True:
            got = _ws_recv(sock)
            if got is None or got[0] == 8:  # EOF / Close
                return
            if got[0] == 9:  # Ping → Pong
                _ws_send(sock, got[1].decode("utf-8", "replace"),
                         opcode=10)
                continue
            try:
                req = _json.loads(got[1].decode())
                stmts = split_statements(req.get("query", ""))
            except Exception as ex:
                send("Error", {"message": str(ex), "code": "XX000"})
                send("ReadyForQuery", "I")
                continue
            for sql in stmts:
                import re as _re
                if _re.match(r"\s*SUBSCRIBE\b", sql, _re.I):
                    self._ws_subscribe(sock, send, sql)
                    break  # the stream owned the connection until here
                try:
                    out = self.session.execute(sql)
                except Exception as ex:
                    send("Error", {"message": str(ex), "code": "XX000"})
                    break
                if out is None:
                    head = sql.lstrip().split(None, 2)
                    send("CommandComplete",
                         " ".join(head[:2]).upper() if head else "OK")
                    continue
                try:
                    rows = self._collect(out)
                except Exception as ex:
                    send("Error", {"message": str(ex), "code": "XX000"})
                    break
                send("Rows", _desc(out))
                for row in rows:
                    send("Row", [_cell(v) for v in row])
                send("CommandComplete", f"SELECT {len(rows)}")
            send("ReadyForQuery", "I")

    def _ws_subscribe(self, sock, send, sql: str) -> None:
        """Stream a SUBSCRIBE over the socket: snapshot, then each
        commit's delta batch as more Row messages, from a
        per-subscriber cursor (session.subscribe_open) woken by the
        commit clock — O(delta) per commit, no table polling, and
        concurrent WS/pgwire subscribers each receive the complete
        stream. A client frame (anything but Ping) or disconnect ends
        the stream — psql-Ctrl-C semantics, PG 57014. AS OF ... UP TO
        self-terminates after its bounded batch; plain AS OF streams on
        (the reference's semantics)."""
        import select as _select
        try:
            sub_id, first, node = self.session.subscribe_open(sql)
        except Exception as ex:
            send("Error", {"message": str(ex), "code": "XX000"})
            return
        # cursor-leak guard: a failing snapshot collect must still close
        # the registered cursor (otherwise every later commit checkpoints
        # frames into a dead queue forever)
        try:
            try:
                rows = self._collect(first)
            except Exception as ex:
                send("Error", {"message": str(ex), "code": "XX000"})
                return
            send("Rows", _desc(first))
            for row in rows:
                send("Row", [_cell(v) for v in row])
            if node.up_to is not None:
                send("CommandComplete", f"SUBSCRIBE {len(rows)}")
                return
            # frontier captured at cursor registration (no lost wakeup)
            seq = self.session.subscribe_seq(sub_id)
            while True:
                # client-frame check without arming a socket timeout —
                # sends below always run on a blocking socket, so a
                # slow reader can't shear a frame mid-write
                readable, _, _ = _select.select([sock], [], [], 0)
                if readable:
                    try:
                        got = _ws_recv(sock)
                    except OSError:
                        return
                    if got is None or got[0] != 9:
                        break  # close / cancel frame
                    _ws_send(sock, got[1].decode("utf-8", "replace"),
                             opcode=10)
                try:
                    if self.session.wait_commit(seq, 0.1) == seq:
                        continue  # timeout tick: nothing committed
                    seq = self.session.commit_seq()
                    delta = self.session.subscribe_poll(sub_id)
                    batch = (self._collect(delta)
                             if delta is not None else [])
                except Exception as ex:
                    send("Error", {"message": str(ex), "code": "XX000"})
                    return
                for row in batch:
                    send("Row", [_cell(v) for v in row])
            send("Error", {"message": "canceling statement due to "
                                      "user request", "code": "57014"})
        finally:
            self.session.subscribe_close(sub_id)

    # -- request execution ---------------------------------------------------
    def _run(self, req: dict) -> list[dict]:
        from materialize_spark.plans.lexer import split_statements

        if "queries" in req:  # extended: one statement each, $n params
            jobs = []
            for q in req["queries"]:
                sql = q.get("query", "")
                params = [None if p is None else str(p).encode()
                          for p in q.get("params", [])]
                bound = MzPgServer._substitute_params(sql, params, ())
                jobs.append(bound)
        elif "query" in req:  # simple: semicolon-delimited batch
            jobs = split_statements(req["query"])
        else:
            raise ValueError("body must contain 'query' or 'queries'")

        results: list[dict] = []
        for sql in jobs:
            try:
                out = self.session.execute(sql)
            except Exception as ex:
                results.append({"error": {"message": str(ex),
                                          "code": "XX000"},
                                "notices": []})
                # the reference stops a simple batch at the first error
                break
            if out is None:
                head = sql.lstrip().split(None, 2)
                tag = " ".join(head[:2]).upper() if head else "OK"
                results.append({"ok": tag, "notices": []})
                continue
            try:
                collected = self._collect(out)
            except Exception as ex:
                results.append({"error": {"message": str(ex),
                                          "code": "XX000"},
                                "notices": []})
                break
            rows = [[_cell(v) for v in row] for row in collected]
            results.append({
                "tag": f"SELECT {len(rows)}",
                "rows": rows,
                "desc": _desc(out),
                "notices": [],
            })
        return results
