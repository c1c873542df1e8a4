"""Span recording around the calls the benchmark makes into each layer.

Spans are kept in memory (name, start, end, parent, operation id) and
written out when the run ends. A layer's self time is its spans' duration
minus the part covered by their direct children, so the self times of one
operation add up to its wall time exactly; whatever no layer span covers
is the root span's self time and is reported as ``unattributed_s``.

With tracing off every hook is a no-op except the remote proxy's
per-thread route record, which the correctness check needs in both modes.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

# span name -> the per-layer self-time metric it feeds
LAYER_OF_SPAN = {
    "op": "unattributed_s",
    "build": "build_s",
    "engine.sql": "engine.sql_s",
    "engine.rewrite": "engine.rewrite_s",
    "remote.execute": "remote.execute_s",
    "remote.stream": "remote.stream_s",
    "remote.insert": "remote.insert_s",
    "sink.insert": "sink.insert_s",
    "exec.action": "exec.action_s",
    "collect.arrow": "collect.arrow_s",
}


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """Thread-aware span recorder. ``job_group`` (optional) is called with
    ``"<op>|<span>"`` on every span entry and exit, so each Spark job is
    tagged with the operation and layer that submitted it."""

    def __init__(self, enabled: bool, job_group=None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.round_trips: dict[str, int] = defaultdict(int)
        self._job_group = job_group
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    # -- span API ------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def current_op(self) -> str | None:
        st = self._stack()
        return st[0][2] if st else None

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        st = self._stack()
        op = op if op is not None else (st[0][2] if st else None)
        with self._lock:
            sid = self._next
            self._next += 1
        parent = st[-1][0] if st else None
        self._tag(op, name)
        st.append((sid, name, op))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            st.pop()
            self._tag(op, st[-1][1] if st else None)
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, op))

    def _tag(self, op, name) -> None:
        if self._job_group is None or op is None:
            return
        self._tls.muted = True
        try:
            self._job_group(f"{op}|{name}" if name else None)
        finally:
            self._tls.muted = False

    def wrap(self, name: str, fn):
        """``fn`` timed as a span named ``name`` (identity when off)."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def timed(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return timed

    # -- py4j round trips ----------------------------------------------
    def count_round_trips(self, gateway_client) -> None:
        """Count py4j commands per operation by wrapping the client's
        ``send_command`` (commands the tracer itself sends are muted)."""
        if not self.enabled:
            return
        orig = gateway_client.send_command

        def send_command(*a, **kw):
            if not getattr(self._tls, "muted", False):
                op = self.current_op()
                if op is not None:
                    self.round_trips[op] += 1
            return orig(*a, **kw)
        gateway_client.send_command = send_command

    # -- aggregation ---------------------------------------------------
    def self_times(self) -> dict[str, dict[str, float]]:
        """op id -> {layer metric: self seconds} (plus ``wall_s``)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s.op is None:
                continue
            dur = s.end - s.start
            out[s.op][LAYER_OF_SPAN.get(s.name, "unattributed_s")] += \
                dur - child[s.sid]
            if s.name == "op":
                out[s.op]["wall_s"] += dur
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(s.__dict__) + "\n")


class RemoteProxy:
    """Stands in for a ``RemoteEngine`` handed to ``attach_remote``.

    Every attribute forwards to the wrapped engine. The data-moving calls
    are timed as ``remote.*`` spans and recorded per thread, so each
    operation's route (which remote calls it made) is read from the
    calling thread alone and never from the engine's shared ``last_*``
    attributes, which concurrent callers overwrite."""

    _CALLS = {"execute": "remote.execute",
              "execute_insert": "remote.insert",
              "insert_arrow": "remote.insert",
              "insert_arrow_batches": "remote.insert"}

    def __init__(self, remote, tracer: Tracer):
        self.unwrapped = remote
        self._tracer = tracer
        self._tls = threading.local()
        self._lock = threading.Lock()
        self.stats: dict[str, float] = defaultdict(float)

    def begin(self) -> None:
        self._tls.calls = []

    def calls(self) -> list[str]:
        return list(getattr(self._tls, "calls", []))

    def _note(self, name: str | None, **stats) -> None:
        calls = getattr(self._tls, "calls", None)
        if calls is not None and name:
            calls.append(name)
        with self._lock:
            for k, v in stats.items():
                self.stats[k] += v

    def __getattr__(self, name):
        attr = getattr(self.unwrapped, name)
        if name == "execute_stream":
            return self._stream(attr)
        span = self._CALLS.get(name)
        if span is None:
            return attr

        def call(*a, **kw):
            with self._tracer.span(span):
                out = attr(*a, **kw)
            if span == "remote.insert":
                self._note(name, insert_calls=1, insert_rows=int(out))
            else:
                self._note(name, execute_calls=1)
            return out
        return call

    def _stream(self, gen_fn):
        def stream(*a, **kw):
            self._note("execute_stream", stream_calls=1)
            it = gen_fn(*a, **kw)
            try:
                while True:
                    with self._tracer.span("remote.stream"):
                        try:
                            batch = next(it)
                        except StopIteration:
                            return
                    self._note(None, stream_batches=1)
                    yield batch
            finally:
                it.close()
        return stream
