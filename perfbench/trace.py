"""In-memory spans, layer wrappers and the Spark event-log reader.

Spans are recorded from the benchmark's own code around calls into each
layer of the program: ``sql`` (``QueryEngine.dataframe_for``), ``engine``
(the run of a submitted query, ``with_row_ids``, ``QueryEngine.fetch``),
``service`` (client-side HTTP calls) and ``queries`` (registered query
build and action). Every Spark job started inside a span carries the
span id in the thread-local property ``perfbench.span``; the event log
then attributes jobs, stages, tasks, shuffle, spill, GC and Python-worker
time to spans.
"""

from __future__ import annotations

import collections
import glob
import itertools
import json
import logging
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from chapterhouseqe_spark import QueryEngine, QueryServiceClient
from chapterhouseqe_spark import engine as engine_module

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    request: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """Keeps spans in memory; tags the calling thread's Spark jobs.

    A disabled tracer records nothing and touches no Spark property, so
    the untraced timed section runs the same benchmark code without
    tracing cost.
    """

    def __init__(self, sc=None, enabled: bool = False) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def current(self) -> Span | None:
        return getattr(self._local, "span", None)

    def start(self, name: str, parent: Span | None = None, request: str | None = None, **attrs) -> Span | None:
        if not self.enabled:
            return None
        parent = parent or self.current()
        span = Span(
            next(self._ids),
            name,
            time.time(),
            parent=parent.id if parent else None,
            request=request or (parent.request if parent else None),
            attrs=attrs,
        )
        with self._lock:
            self.spans.append(span)
        return span

    def finish(self, span: Span | None, **attrs) -> None:
        if span is not None:
            span.attrs.update(attrs)
            span.end = time.time()

    def adopt(self, span: Span) -> None:
        """Make ``span`` current, and tag Spark jobs with it, for the rest
        of this thread's life."""
        self._local.span = span
        self.sc.setLocalProperty(SPAN_PROPERTY, str(span.id))

    @contextmanager
    def active(self, span: Span | None):
        """Make ``span`` this thread's current span and tag its Spark jobs."""
        if span is None:
            yield None
            return
        prev_span = self.current()
        prev_tag = self.sc.getLocalProperty(SPAN_PROPERTY)
        self._local.span = span
        self.sc.setLocalProperty(SPAN_PROPERTY, str(span.id))
        try:
            yield span
        finally:
            self._local.span = prev_span
            self.sc.setLocalProperty(SPAN_PROPERTY, prev_tag)

    @contextmanager
    def span(self, name: str, request: str | None = None, **attrs):
        sp = self.start(name, request=request, **attrs)
        with self.active(sp):
            try:
                yield sp
            finally:
                self.finish(sp)

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


class TracedEngine(QueryEngine):
    """QueryEngine whose run, plan and fetch calls are wrapped in spans.

    The ``engine.run`` span opens when the query is submitted and closes
    when ``wait`` returns; the worker thread that plans and writes the
    result runs inside it, so the write job is tagged with the run span
    and the run span's self time is the result write.
    """

    def __init__(self, spark, tracer: Tracer, **kwargs) -> None:
        super().__init__(spark, **kwargs)
        self.tracer = tracer
        self._pending: dict[tuple[str, str], collections.deque] = collections.defaultdict(collections.deque)
        self._pending_lock = threading.Lock()
        self._watchers: list[threading.Thread] = []

    def run_query(self, sql: str, mode: str = "spark") -> str:
        span = self.tracer.start("engine.run")
        if span is None:
            return super().run_query(sql, mode)
        # the worker thread may reach dataframe_for before run_query
        # returns; it blocks on the lock until the span is queued
        with self._pending_lock:
            self._pending[(sql, mode)].append(span)
            qid = super().run_query(sql, mode)
            span.attrs["query_id"] = qid

        def _watch() -> None:
            self.wait(qid)
            self.tracer.finish(span, status=self.status(qid).value)

        watcher = threading.Thread(target=_watch, daemon=True)
        watcher.start()
        self._watchers.append(watcher)
        return qid

    def dataframe_for(self, sql: str, mode: str = "spark"):
        with self._pending_lock:
            queue = self._pending.get((sql, mode))
            run = queue.popleft() if queue else None
        if run is None:
            with self.tracer.span("sql.plan", mode=mode):
                return super().dataframe_for(sql, mode)
        # the rest of the worker's jobs (row ids, result write) belong
        # to the run
        self.tracer.adopt(run)
        with self.tracer.span("sql.plan", mode=mode):
            return super().dataframe_for(sql, mode)

    def fetch(self, query_id, offset=0, limit=1000, forward=True, allow_overflow=False):
        with self.tracer.span(
            "engine.fetch",
            query_id=query_id,
            offset=offset,
            forward=forward,
            allow_overflow=allow_overflow,
        ) as sp:
            rows = super().fetch(query_id, offset, limit, forward, allow_overflow)
            if sp is not None:
                sp.attrs["rows"] = len(rows)
            return rows

    def join_watchers(self, timeout: float = 30.0) -> None:
        for w in self._watchers:
            w.join(timeout)
        self._watchers.clear()


def traced_with_row_ids(tracer: Tracer) -> None:
    """Wrap ``engine.with_row_ids`` (looked up as a module global by
    ``QueryEngine.run_query``) in an ``engine.row_ids`` span."""
    original = engine_module.with_row_ids

    def wrapper(df, *args, **kwargs):
        with tracer.span("engine.row_ids"):
            return original(df, *args, **kwargs)

    engine_module.with_row_ids = wrapper


class CountingClient(QueryServiceClient):
    """Service client that counts status polls per query."""

    def __init__(self, *args, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.polls: collections.Counter = collections.Counter()

    def get_query_status(self, query_id: str) -> dict:
        self.polls[query_id] += 1
        return super().get_query_status(query_id)


def response_bytes(rows: list[dict], offsets: list[int]) -> int:
    """Size of the ``/data`` body: the server writes ``json.dumps`` of
    exactly this payload, and a JSON round trip preserves it."""
    return len(json.dumps({"rows": rows, "offsets": offsets}).encode())


# ------------------------------------------------------ dispatch records
# Message templates of the operators' tier decisions, matched on the
# unformatted ``record.msg``; anything else counts as ``other``.
DISPATCH_TEMPLATES: tuple[tuple[str, str], ...] = (
    ("pairing.declined_ids", "pairing kernel declined (non-integral ids)"),
    ("pairing.declined_post_collect", "pairing kernel declined post-collect"),
    ("pairing.declined_docs", "pairing kernel declined (n_docs"),
    ("pairing.declined_mass", "pairing kernel declined (mass"),
    ("pairing.declined_vocab", "pairing kernel declined (vocab"),
    ("pairing.declined_collision", "pairing kernel declined (xxhash64"),
    ("pairing.engaged", "pairing kernel engaged"),
    ("ngram.auto_dispatch", "auto dispatch"),
    ("cc.kernel_declined", "connected_components: small-graph kernel declined"),
    ("cc.kernel_engaged", "connected_components: small-graph kernel engaged"),
    ("pagerank.kernel_declined", "pagerank_fixed_point: small-graph kernel declined"),
    ("pagerank.kernel_engaged", "pagerank_fixed_point: small-graph kernel engaged"),
    ("triangle.bitset_engaged", "triangle_count: small-graph bitset kernel engaged"),
    ("triangle.kernel_declined", "triangle_count: small-graph kernel declined"),
    ("other", ""),
)


class DispatchCounter(logging.Handler):
    """Counts INFO dispatch records of ``chapterhouseqe_spark.operators``."""

    LOGGER = "chapterhouseqe_spark.operators"

    def __init__(self) -> None:
        super().__init__(logging.INFO)
        self.counts: collections.Counter = collections.Counter()
        self.on = False

    def emit(self, record: logging.LogRecord) -> None:
        if not self.on:
            return
        msg = str(record.msg)
        for slug, needle in DISPATCH_TEMPLATES:
            if needle in msg:
                self.counts[slug] += 1
                return

    def install(self) -> None:
        log = logging.getLogger(self.LOGGER)
        log.setLevel(logging.INFO)
        log.addHandler(self)


# ------------------------------------------------------------ event log
PYTHON_METRICS = {
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_returned",
}


def _events(log_dir: str):
    files = glob.glob(os.path.join(log_dir, "*", "events_*")) or glob.glob(
        os.path.join(log_dir, "*")
    )

    def index(path: str) -> int:
        parts = os.path.basename(path).split("_")
        return int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0

    for path in sorted(files, key=index):
        if os.path.isdir(path) or "appstatus" in os.path.basename(path):
            continue
        with open(path) as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Per span id: jobs, stages, tasks and summed task metrics.

    Jobs and stages are attributed through the ``perfbench.span``
    property they were submitted with; tasks through their stage.
    """
    per_span: dict[int, dict] = collections.defaultdict(collections.Counter)
    stage_span: dict[int, int] = {}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            tag = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            if tag:
                per_span[int(tag)]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            tag = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            if tag:
                stage_span[ev["Stage Info"]["Stage ID"]] = int(tag)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_span:
                per_span[stage_span[sid]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            if sid not in stage_span:
                continue
            c = per_span[stage_span[sid]]
            c["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            c["run_ms"] += m.get("Executor Run Time", 0)
            c["cpu_ns"] += m.get("Executor CPU Time", 0)
            c["gc_ms"] += m.get("JVM GC Time", 0)
            c["spill"] += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            c["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = PYTHON_METRICS.get(acc.get("Name"))
                if key is not None:
                    c[key] += int(acc.get("Update") or 0)
    return dict(per_span)
