"""Span recorder for the traced run.

Spans are recorded around calls into the program's modules by wrapping
their public functions from the benchmark side; the program itself is
not changed. Each span keeps its name, start, end, parent and the id of
the query or statement (the "op") it belongs to.

Parenting: a span's parent is the innermost open span on its own
thread. A span opened on another thread with nothing open there (the
wire server's handler thread, a streaming foreachBatch callback) is
parented to the innermost open span of the thread that drives the op,
which is blocked waiting for that work at the time.
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []  # [id, name, start, end, parent, op]
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._op = None
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        with self._lock:
            sid = len(self.spans)
            rec = [sid, name, time.perf_counter(), None, parent, self._op]
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            rec[3] = time.perf_counter()
            stack.pop()

    @contextmanager
    def op(self, op_id: str, name: str):
        """Root span of one query, statement or drain."""
        self._op = op_id
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            self._op = None

    def wrap(self, fn, name):
        """`fn` wrapped in a span; `name` is a string or a function of
        the call's arguments returning one."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with tracer.span(label):
                return fn(*args, **kwargs)

        return traced


def patch_function(tracer: Tracer, module, attr: str, name) -> int:
    """Wrap `module.attr` and every binding of the same function that
    other loaded modules of the package imported by name. Returns the
    number of bindings replaced."""
    orig = getattr(module, attr)
    traced = tracer.wrap(orig, name)
    pkg = module.__name__.split(".")[0]
    n = 0
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == pkg or mod_name.startswith(pkg + ".")):
            continue
        if getattr(mod, attr, None) is orig:
            setattr(mod, attr, traced)
            n += 1
    return n


def patch_method(tracer: Tracer, cls, attr: str, name) -> None:
    traced = tracer.wrap(getattr(cls, attr), name)
    if isinstance(inspect.getattr_static(cls, attr), staticmethod):
        traced = staticmethod(traced)
    setattr(cls, attr, traced)


def self_times(spans: list[list]) -> dict[int, float]:
    """Self time of every closed span: its duration minus the part of
    its interval that its children's intervals cover (union, clipped to
    the parent)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sid, _name, start, end, parent, _op in spans:
        if parent is not None and end is not None:
            children.setdefault(parent, []).append((start, end))
    out = {}
    for sid, _name, start, end, _parent, _op in spans:
        if end is None:
            continue
        covered = 0.0
        cur_s = cur_e = None
        for s, e in sorted(children.get(sid, [])):
            s, e = max(s, start), min(e, end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sid] = (end - start) - covered
    return out


def layer_sum_check(spans: list[list], walls: dict[str, float],
                    abs_tol: float, rel_tol: float,
                    bare_roots: frozenset = frozenset()) -> list[dict]:
    """For each op, the self times of its spans must add up to the
    wall time the benchmark measured around it. That holds for any
    properly nested tree, so on its own it only catches overlapping
    children; a root span named in `bare_roots` does no work of its
    own, and its self time (the op's time no layer span covers) must
    also stay within the tolerance. Returns the ops that miss, with
    the figures."""
    selfs = self_times(spans)
    per_op: dict[str, float] = {}
    unattributed: dict[str, float] = {}
    for sid, name, _s, _e, parent, op in spans:
        if op is None or sid not in selfs:
            continue
        per_op[op] = per_op.get(op, 0.0) + selfs[sid]
        if parent is None and name in bare_roots:
            unattributed[op] = unattributed.get(op, 0.0) + selfs[sid]
    bad = []
    for op, wall in walls.items():
        tol = abs_tol + rel_tol * wall
        got = per_op.get(op, 0.0)
        loose = unattributed.get(op, 0.0)
        if abs(got - wall) > tol or loose > tol:
            bad.append({"op": op, "wall_s": wall, "self_sum_s": got,
                        "unattributed_s": loose})
    return bad


def layer_totals(spans: list[list]) -> dict[str, dict]:
    """Self time and call count per span name."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for sid, name, _s, _e, _p, _op in spans:
        if sid not in selfs:
            continue
        d = out.setdefault(name, {"self_s": 0.0, "calls": 0})
        d["self_s"] += selfs[sid]
        d["calls"] += 1
    return out


def span_cost(n: int = 20000) -> float:
    """Seconds one empty span costs on this host (enter plus exit)."""
    tracer = Tracer()
    with tracer.op("calib", "calib"):
        t0 = time.perf_counter()
        for _ in range(n):
            with tracer.span("x"):
                pass
        return (time.perf_counter() - t0) / n
