"""Spans around the program's public layer functions, recorded from the
benchmark's own files: the program is not edited, its module attributes are
wrapped for the duration of a traced pass and restored after.

Each span sets the SparkContext local property ``perfbench.span`` to its id
while it runs, so every Spark job it starts carries the id into the event
log (``SparkListenerJobStart.Properties``).  Jobs started from a thread the
span did not open (``tocsv_all``'s entity pool, the streaming
``foreachBatch`` callback) are tagged by the span wrapped inside that
thread (``tocsv``, ``process_batch``).
"""

from __future__ import annotations

import functools
import importlib
import threading
import time
from dataclasses import dataclass

PROPERTY = "perfbench.span"
PKG = "substreams_sink_graph_load_spark"

# (module, attribute, span name); "Class.method" wraps a method.  Callers
# look these names up on their module at call time, so patching the
# defining module reaches them; tocsv.py's import-time binding of
# write_bundled_csv is reached through the write_bundled_lines it calls.
PIPELINE_SPANS = [
    ("streaming.ingest", "run_ingest", "streaming.ingest.run_ingest"),
    ("streaming.ingest", "WireIngest.process_batch", "streaming.ingest.stage_batch"),
    ("streaming.ingest", "check_final_blocks_from_runs", "streaming.ingest.order_check"),
    ("streaming.ingest", "check_final_blocks_only", "streaming.ingest.order_check_scan"),
    ("streaming.ingest", "demux_jsonl", "streaming.ingest.demux"),
    ("operators.poi", "discover_runs", "operators.poi.discover_runs"),
    ("operators.poi", "poi_tocsv", "operators.poi.poi_tocsv"),
    ("operators.poi", "poi_chain", "operators.poi.chain"),
    ("operators.poi", "poi_block_states_sorted", "operators.poi.sorted_fold"),
    ("operators.poi", "poi_block_states", "operators.poi.shuffle_fold"),
    ("tocsv", "tocsv_all", "tocsv.tocsv_all"),
    ("tocsv", "tocsv", "tocsv.tocsv"),
    ("tocsv", "last_event_block", "tocsv.last_event_block"),
    ("operators.bundles", "write_bundled_lines", "operators.bundles.write"),
    ("sinks.postgres", "inject_csv_files", "sinks.postgres.inject"),
]


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float          # epoch seconds, comparable with event-log times
    end: float = 0.0
    result: object = None
    prev_prop: str | None = None  # the local property to restore on close

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory; :meth:`install` wraps the layer functions,
    :meth:`open`/:meth:`close` and :meth:`call` record spans directly."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> Span:
        stack = self._stack()
        # a span opened on a helper thread hangs off the main thread's
        # innermost open span: that is the call that started the thread
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            s = Span(len(self.spans), name, parent.id if parent else None, time.time())
            self.spans.append(s)
        s.prev_prop = self.sc.getLocalProperty(PROPERTY)
        stack.append(s)
        self.sc.setLocalProperty(PROPERTY, str(s.id))
        return s

    def close(self, s: Span, result=None) -> None:
        s.end = time.time()
        s.result = result
        stack = self._stack()
        if stack and stack[-1] is s:
            stack.pop()
        self.sc.setLocalProperty(PROPERTY, s.prev_prop)

    def call(self, name: str, fn, *args, **kwargs):
        s = self.open(name)
        result = None
        try:
            result = fn(*args, **kwargs)
            return result
        finally:
            self.close(s, result)

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return wrapper

    def install(self, specs=PIPELINE_SPANS) -> None:
        for mod_name, attr, span_name in specs:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            owner, leaf = mod, attr
            if "." in attr:
                cls_name, leaf = attr.split(".")
                owner = getattr(mod, cls_name)
            orig = getattr(owner, leaf)
            self._patched.append((owner, leaf, orig))
            setattr(owner, leaf, self._wrap(span_name, orig))

    def uninstall(self) -> None:
        for target, leaf, orig in reversed(self._patched):
            setattr(target, leaf, orig)
        self._patched.clear()
