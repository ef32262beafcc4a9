"""In-memory span recorder for the traced run.

Wrappers are installed around the public calls into each layer (see
``install``) and removed again by ``Tracer.close``; with tracing off none
is installed, so the untraced run executes the program unmodified. A span
is (id, parent, request id, name, start, end, thread). The parent is the
innermost open span on the same thread; the request id comes from a
``/* req=N */`` comment the benchmark's clients put in front of every SQL
statement, so server-side spans on gRPC threads join the client's request.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

from stats import median, self_time

_REQ = re.compile(r"/\*\s*req=(\d+)\s*\*/")
COST_CALLS = 20_000  # calls per round when measuring a wrapper's cost


def tag_sql(sql: str, req: int) -> str:
    """Prefix a statement with its request id comment."""
    return f"/* req={req} */ {sql}"


def req_of(sql) -> int | None:
    m = _REQ.search(sql) if isinstance(sql, str) else None
    return int(m.group(1)) if m else None


@dataclass
class Span:
    sid: int
    parent: int | None
    req: int | None
    name: str
    start: float
    end: float | None
    thread: int


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._undo: list = []
        # server-side query id (Engine.resolve's job group) → request id
        self.qid_req: dict[str, int] = {}

    # -- recording ---------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, req: int | None = None) -> Span:
        st = self._stack()
        parent = st[-1] if st else None
        if req is None and parent is not None:
            req = parent.req
        sp = Span(
            next(self._ids), parent.sid if parent else None, req, name,
            time.perf_counter(), None, threading.get_ident(),
        )
        self.spans.append(sp)
        st.append(sp)
        return sp

    def close_span(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        elif sp in st:
            st.remove(sp)

    # -- wrappers ----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, req_arg: int | None = None,
             on_call=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``req_arg``: positional index of a SQL argument carrying the
        request comment. ``on_call(span, args, kwargs, result)`` may record
        extra facts."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            req = None
            if req_arg is not None and len(args) > req_arg:
                req = req_of(args[req_arg])
            sp = tracer.open(name, req)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer.close_span(sp)
            if on_call is not None:
                on_call(sp, args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def wrap_generator(self, owner, attr: str, name: str, req_of_args) -> None:
        """Span over a generator function's whole iteration: from the first
        pull to exhaustion or close, on the thread that pulls it."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            # the body runs at the first pull; a generator resumes on
            # whichever thread pulls it, so the span stays off the thread
            # stack and never parents unrelated spans between pulls
            sp = tracer.open(name, req_of_args(args, kwargs))
            tracer._stack().remove(sp)
            try:
                yield from orig(*args, **kwargs)
            finally:
                sp.end = time.perf_counter()

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def close(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- analysis ----------------------------------------------------------

    def finished(self, name: str | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.end is not None and (name is None or s.name == name)
        ]

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = defaultdict(list)
        for s in self.finished():
            if s.parent is not None:
                out[s.parent].append(s)
        return out

    def durations_ms(self, name: str) -> list[float]:
        return [(s.end - s.start) * 1e3 for s in self.finished(name)]

    def median_ms(self, name: str) -> float:
        d = self.durations_ms(name)
        return median(d) if d else 0.0

    def self_ms(self, name: str) -> list[float]:
        kids = self.children()
        return [
            self_time(s.start, s.end, [(c.start, c.end) for c in kids.get(s.sid, [])]) * 1e3
            for s in self.finished(name)
        ]

    def count(self, name: str) -> int:
        return len(self.finished(name))

    def child_count(self, parent_name: str, child_name: str) -> list[int]:
        """Per ``parent_name`` span, how many ``child_name`` spans nest
        anywhere below it."""
        kids = self.children()

        def below(sid: int) -> int:
            n = 0
            for c in kids.get(sid, []):
                n += (c.name == child_name) + below(c.sid)
            return n

        return [below(s.sid) for s in self.finished(parent_name)]

    def dump(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "parent": s.parent, "req": s.req,
                    "name": s.name, "start_s": round(s.start - t0, 6),
                    "end_s": None if s.end is None else round(s.end - t0, 6),
                    "thread": s.thread,
                }) + "\n")


def span_cost_s() -> float:
    """Seconds one wrapper adds to a call: a wrapped no-op taking a tagged
    SQL argument against the bare no-op, best of three rounds."""

    class Noop:
        def call(self, sql):
            return None

    def best(obj) -> float:
        sql = tag_sql("SELECT 1", 1)
        out = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            for _ in range(COST_CALLS):
                obj.call(sql)
            out = min(out, time.perf_counter() - t0)
        return out

    bare = best(Noop())
    tr = Tracer()
    tr.wrap(Noop, "call", "noop", req_arg=1)
    try:
        wrapped = best(Noop())
    finally:
        tr.close()
    return max(0.0, wrapped - bare) / COST_CALLS
