"""Spans around the program's layers, recorded from outside the program.

``Tracer.patch`` replaces a function where it is looked up (a module
attribute or a class attribute) with a wrapper that records a span.  A
span is ``[name, start_ns, end_ns, parent, request, rtype, attrs]``;
``parent`` is the index of the enclosing span on the same thread and
``request`` groups the spans of one server request.  Spans stay in memory
and are written out when the server stops.

Clocks are ``time.perf_counter_ns`` (CLOCK_MONOTONIC on Linux), which is
shared by every process on the host, so client and server spans can be
laid on one time line.

The analysis half (``self_times``, ``match_requests``) is pure Python and
is what the benchmark's self-tests exercise.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time

NAME, START, END, PARENT, REQUEST, RTYPE, ATTRS = range(7)


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[list] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        #: called with (rtype, request id) when a root span becomes current
        #: on a thread, and when it ends there or the thread takes up
        #: another request; a suspended generator keeps its thread's root
        self.on_root_enter = None
        self.on_root_exit = None

    # -- span bookkeeping ----------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, rtype: str | None = None) -> int | None:
        """Open a span and make it current; a span with ``rtype`` starts a
        new request."""
        stack = self._stack()
        if rtype is None and not stack:
            return None  # a layer called outside any traced request
        parent = stack[-1] if stack else None
        if rtype is not None:
            request = next(self._ids)
        else:
            request, rtype = self.spans[parent][REQUEST], self.spans[parent][RTYPE]
        span = [name, time.perf_counter_ns(), None, parent, request, rtype, {}]
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        self.enter(idx)
        return idx

    def close(self, idx: int | None, **attrs) -> None:
        if idx is None:
            return
        span = self.spans[idx]
        span[END] = time.perf_counter_ns()
        span[ATTRS].update(attrs)
        stack = self._stack()
        if stack and stack[-1] == idx:
            self.exit(idx)

    def record(self, name: str, start: int, end: int, parent: int) -> None:
        """Add a finished child span of ``parent`` that was never current."""
        span = self.spans[parent]
        with self._lock:
            self.spans.append([name, start, end, parent, span[REQUEST], span[RTYPE], {}])

    def enter(self, idx: int) -> None:
        """Make span ``idx`` current on this thread."""
        self._stack().append(idx)
        span = self.spans[idx]
        if span[PARENT] is None and self.on_root_enter:
            key = (span[RTYPE], span[REQUEST])
            held = getattr(self._local, "root", None)
            if held != key:
                if held is not None:
                    self.on_root_exit(*held)
                self.on_root_enter(*key)
                self._local.root = key

    def exit(self, idx: int, suspend: bool = False) -> None:
        self._stack().pop()
        span = self.spans[idx]
        if span[PARENT] is None and self.on_root_exit and not suspend:
            key = (span[RTYPE], span[REQUEST])
            if getattr(self._local, "root", None) == key:
                self.on_root_exit(*key)
                self._local.root = None

    # -- wrappers ------------------------------------------------------------
    def patch(self, owner, attr: str, name: str, kind: str = "call",
              rtype=None, attrs=None, suspended=None) -> None:
        """Wrap ``owner.attr``.

        kind ``call``: one span per call.  ``gen``: the call returns a
        generator; one span from the call until the generator is exhausted,
        current only while the generator runs, on whichever thread resumes
        it, with ``first_ns`` set at the first item, and with a child span
        named ``suspended`` (if given) for each time the caller holds an
        item before asking for the next.  ``pull``: the call returns an
        iterator; one span per ``next``, so the spans add up to the time
        spent pulling it.

        ``rtype``: a string, or a function of the call's arguments, naming
        the request type; a span with an rtype is the root of a request.
        ``attrs``: function of (args, result) returning span attributes.
        """
        orig = getattr(owner, attr)
        tracer = self

        def root_type(args, kwargs):
            return rtype(*args, **kwargs) if callable(rtype) else rtype

        if kind == "call":
            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                if not tracer.enabled:
                    return orig(*args, **kwargs)
                idx = tracer.open(name, root_type(args, kwargs))
                try:
                    out = orig(*args, **kwargs)
                finally:
                    tracer.close(idx)
                if idx is not None and attrs:
                    tracer.spans[idx][ATTRS].update(attrs(args, out))
                return out
        elif kind == "gen":
            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                if not tracer.enabled:
                    yield from orig(*args, **kwargs)
                    return
                idx = tracer.open(name, root_type(args, kwargs))
                if idx is None:
                    yield from orig(*args, **kwargs)
                    return
                items = 0
                try:
                    it = iter(orig(*args, **kwargs))
                    while True:
                        try:
                            item = next(it)
                        except StopIteration:
                            break
                        if not items:
                            tracer.spans[idx][ATTRS]["first_ns"] = time.perf_counter_ns()
                        items += 1
                        # suspended: not current while the caller runs, and the
                        # caller may resume it on another thread
                        tracer.exit(idx, suspend=True)
                        held = time.perf_counter_ns()
                        try:
                            yield item
                        finally:
                            if suspended:
                                tracer.record(suspended, held, time.perf_counter_ns(), idx)
                            tracer.enter(idx)
                finally:
                    tracer.close(idx, items=items)
        elif kind == "pull":
            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                it = orig(*args, **kwargs)
                if not tracer.enabled:
                    return it
                return _PulledIterator(tracer, name, iter(it), attrs)
        else:
            raise ValueError(f"unknown span kind {kind!r}")

        setattr(owner, attr, wrapper)


class _PulledIterator:
    def __init__(self, tracer: Tracer, name: str, it, attrs):
        self._tracer, self._name, self._it, self._attrs = tracer, name, it, attrs

    def __iter__(self):
        return self

    def __next__(self):
        idx = self._tracer.open(self._name)
        item = None
        try:
            item = next(self._it)
            return item
        finally:
            self._tracer.close(idx)
            if idx is not None and item is not None and self._attrs:
                self._tracer.spans[idx][ATTRS].update(self._attrs((), item))


# -- analysis ----------------------------------------------------------------


def covered(intervals) -> int:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[list]) -> list[int]:
    """Each span's duration minus the part of it its direct children cover
    (children may overlap each other; parts outside the span don't count)."""
    children: dict[int, list[tuple[int, int]]] = {}
    for sp in spans:
        if sp[PARENT] is not None:
            children.setdefault(sp[PARENT], []).append((sp[START], sp[END]))
    out = []
    for i, sp in enumerate(spans):
        s, e = sp[START], sp[END]
        kids = [(max(a, s), min(b, e)) for a, b in children.get(i, []) if b > s and a < e]
        out.append(e - s - covered(kids))
    return out


#: a server may close its request span just after the client has read the
#: whole response
END_SLACK_NS = 20_000_000


def match_requests(clients: list[tuple], roots: list[tuple]) -> dict[int, int]:
    """Map each server root span to the client request that caused it.

    ``clients``: (client id, rtype, start, end); ``roots``: (root id,
    rtype, start, end).  A root belongs to a client request of its type
    whose interval contains it (its end may trail by END_SLACK_NS); among
    several, the closest fit wins, and each client request takes at most
    one root.  Returns root -> client.
    """
    cands = []
    for rid, rt, rs, re_ in roots:
        for cid, ct, cs, ce in clients:
            if ct == rt and cs <= rs and re_ <= ce + END_SLACK_NS:
                cands.append(((rs - cs) + abs(ce - re_), rid, cid))
    cands.sort()
    used_r, used_c, out = set(), set(), {}
    for _cost, rid, cid in cands:
        if rid not in used_r and cid not in used_c:
            used_r.add(rid)
            used_c.add(cid)
            out[rid] = cid
    return out
