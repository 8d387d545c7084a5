"""Span tracing of the engine's layers, patched in from the benchmark.

``Tracer.install`` wraps the public entry points of each layer — the
parser, the dialect rewriter, statement dispatch, the checkpoint
(lineage-break) helpers and catalog set-up — and counts py4j
``send_command`` roundtrips, the way ``tools/count_sends.py`` does
but without a stack walk. ``uninstall`` puts every original back, so
an untraced operation runs the engine's own code. Spans stay in memory
(name, start, end, parent span, operation id) and are written out once
at the end of a run.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict


def _targets():
    """(layer, owner, attribute) for every wrapped function. Module
    functions are also replaced wherever another engine module imported
    them by name."""
    from materialize_spark import catalog, ckpt
    from materialize_spark.plans import dialect, parser, sqlfront
    return [
        ("parser", parser, "parse_statement"),
        ("parser", parser.Parser, "parse"),
        ("dialect", dialect, "rewrite"),
        ("sqlfront", sqlfront.MzSession, "execute"),
        ("ckpt", ckpt, "lineage_break"),
        ("ckpt", ckpt, "fresh_break"),
        ("catalog", catalog.Catalog, "__post_init__"),
    ]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []  # (id, parent, op, name, start, end)
        self.sends = 0
        self.cost_s = 0.0  # time wrappers spent on their own bookkeeping
        self._local = threading.local()
        self._next_id = 0
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, op: int | None = None) -> list:
        st = self._stack()
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        parent = st[-1] if st else None
        rec = [sid, parent[0] if parent else None,
               op if op is not None else (parent[2] if parent else None),
               name, time.perf_counter(), None]
        st.append(rec)
        return rec

    def end(self, rec: list) -> None:
        rec[5] = time.perf_counter()
        st = self._stack()
        if st and st[-1] is rec:
            st.pop()
        with self._lock:
            self.spans.append(tuple(rec))

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            st = tracer._stack()
            # a layer calling itself is one span: calls and self time
            # count at the outermost entry
            if st and st[-1][3] == layer:
                return fn(*args, **kwargs)
            t_in = time.perf_counter()
            rec = tracer.begin(layer)
            tracer.cost_s += rec[4] - t_in
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(rec)
                tracer.cost_s += time.perf_counter() - rec[5]
        return traced

    # -- install / uninstall --------------------------------------------
    def install(self) -> None:
        if self._patches:
            return
        import py4j.clientserver as cs

        for layer, owner, attr in _targets():
            orig = owner.__dict__[attr]
            wrapped = self._wrap(layer, orig)
            self._patch(owner, attr, orig, wrapped)
            if isinstance(owner, type):
                continue
            for mod in list(sys.modules.values()):
                if mod is owner or not getattr(mod, "__name__", "") \
                        .startswith("materialize_spark"):
                    continue
                for name, val in list(vars(mod).items()):
                    if val is orig:
                        self._patch(mod, name, orig, wrapped)

        orig_send = cs.ClientServerConnection.send_command
        tracer = self

        def counting(conn, *a, **kw):
            tracer.sends += 1
            return orig_send(conn, *a, **kw)
        self._patch(cs.ClientServerConnection, "send_command", orig_send,
                    counting)

    def _patch(self, owner, attr, orig, new) -> None:
        setattr(owner, attr, new)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- summaries -------------------------------------------------------
    def layer_totals(self, ops: set[int]) -> dict[str, dict[str, float]]:
        """Per layer: calls and self seconds, over spans of ``ops``. Self
        time is a span's duration minus that of its direct children."""
        child_time: dict[int, float] = defaultdict(float)
        for sid, parent, op, name, t0, t1 in self.spans:
            if parent is not None:
                child_time[parent] += t1 - t0
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "self_s": 0.0, "total_s": 0.0})
        for sid, parent, op, name, t0, t1 in self.spans:
            if op not in ops:
                continue
            agg = out[name]
            agg["calls"] += 1
            agg["total_s"] += t1 - t0
            agg["self_s"] += (t1 - t0) - child_time.get(sid, 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, op, name, t0, t1 in self.spans:
                f.write(json.dumps({"id": sid, "parent": parent, "op": op,
                                    "name": name, "start": t0,
                                    "end": t1}) + "\n")
