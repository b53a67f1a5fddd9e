"""Spans around the program's public functions, and Spark's own counters.

Tracing is switched on only for the traced run (``--trace 1``).  It wraps
functions from the outside -- module attributes and class methods are
replaced in this process, nothing under ``indra_db_spark/`` is edited --
and records one span per call: name, start, end, parent and request id.
Spans stay in memory until the run ends.

On the serving side one handler thread serves one request, so the span
stack is thread-local and the root span (the HTTP handler) carries the
request id from the ``X-Bench-Id`` header.  Work the program hands to a
``ThreadPoolExecutor`` (e.g. the overlapped collect inside
``get_statements``) starts its thread's stack under the submitting span,
so its spans keep their parent and request.  Such a helper span runs
beside its parent: the part of it during which the parent's own thread
was in the parent's self time (waiting on it) is moved from the parent's
layer to the helper's, so a request's layer self times still add up to
its handler span.
"""

from __future__ import annotations

import concurrent.futures
import functools
import linecache
import re
import threading
import time
from dataclasses import dataclass, field

#: layer names, after the modules whose functions the spans wrap
ROOT = "service.rest.handler"
FOLD = "service.params.fold"
COMPILE = "plans.queries.compile"
BUILD = "plans.shaping.build"
JSON = "plans.shaping.json"
ACTION = "spark.action"
PRUNE = "plans.txlog.prune"
SUBMIT = "plans.principal.submit"
READ = "plans.principal.read"
LAYERS = (ROOT, FOLD, COMPILE, BUILD, JSON, ACTION, PRUNE, SUBMIT, READ)
#: one span per ``TxTable.append`` of the assembly build
APPEND = "assembly.append"


@dataclass
class Span:
    name: str
    t0: float
    parent: "Span | None"
    req: str | None
    thread: int = 0
    t1: float = 0.0
    child_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def helper(self) -> bool:
        """Opened on a pool thread, beside its parent."""
        return self.parent is not None and self.parent.thread != self.thread

    @property
    def self_s(self) -> float:
        return (self.t1 - self.t0) - self.child_s


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, name: str, fn, req_of=None, attrs_of=None):
        """``fn`` recording a span ``name`` per call.  ``req_of(args)``
        names the request a root span serves; ``attrs_of(result)`` adds
        counts taken from the call's result."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._stack()
            parent = stack[-1] if stack else None
            req = req_of(args) if req_of else (parent.req if parent else None)
            span = Span(name, time.monotonic(), parent, req,
                        threading.get_ident())
            stack.append(span)
            try:
                out = fn(*args, **kwargs)
                if attrs_of is not None:
                    span.attrs.update(attrs_of(out))
                return out
            finally:
                span.t1 = time.monotonic()
                stack.pop()
                if parent is not None and not span.helper:
                    parent.child_s += span.t1 - span.t0
                with self._lock:
                    self.spans.append(span)

        return traced

    def patch(self, owner, attr: str, name: str, **kw) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(name, orig, **kw))

    def _carry_into_pools(self) -> None:
        """Start each pool task's span stack under the submitting span."""
        tracer = self
        orig = concurrent.futures.ThreadPoolExecutor.submit

        def submit(pool, fn, /, *args, **kwargs):
            stack = tracer._stack()
            if not stack:
                return orig(pool, fn, *args, **kwargs)
            parent = stack[-1]

            def task(*a, **kw):
                tracer._local.stack = [parent]
                try:
                    return fn(*a, **kw)
                finally:
                    tracer._local.stack = []

            return orig(pool, task, *args, **kwargs)

        self._undo.append((concurrent.futures.ThreadPoolExecutor, "submit", orig))
        concurrent.futures.ThreadPoolExecutor.submit = submit

    def unpatch(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -------------------------------------------------- serving patches

    def install_serving(self) -> None:
        """Wrap the serving path's layer boundaries.  ``rest`` imports its
        helpers by name, so they are replaced in ``rest``'s namespace."""
        from pyspark import RDD
        from pyspark.sql.classic.dataframe import DataFrame

        from indra_db_spark.plans import principal, queries, shaping, txlog
        from indra_db_spark.service import rest

        orig_make = rest.make_handler
        tracer = self

        def make_handler(*a, **kw):
            base = orig_make(*a, **kw)

            def req_of(args):
                return args[0].headers.get("X-Bench-Id")

            class Traced(base):
                do_GET = tracer.wrap(ROOT, base.do_GET, req_of=req_of)
                do_POST = tracer.wrap(ROOT, base.do_POST, req_of=req_of)
                _send = tracer.wrap(JSON, base._send)

            return Traced

        self._undo.append((rest, "make_handler", orig_make))
        rest.make_handler = make_handler
        self._carry_into_pools()

        for fn in ("query_from_web_params", "query_from_simple_json"):
            self.patch(rest, fn, FOLD)
        for fn in ("get_statements", "get_hashes", "get_interactions",
                   "get_relations", "get_agents"):
            self.patch(rest, fn, BUILD)
        self.patch(rest, "_rows_json", JSON)
        self.patch(shaping.StatementQueryResult, "json", JSON)
        self.patch(queries.Query, "hashes", COMPILE)
        for fn in ("collect", "count"):
            self.patch(DataFrame, fn, ACTION)
        self.patch(RDD, "collect", ACTION)
        self.patch(
            txlog.TxTable, "skip_read", PRUNE,
            attrs_of=lambda out: {"read": out[1], "total": out[2]},
        )
        self.patch(principal.CurationStore, "submit", SUBMIT)
        self.patch(principal.CurationStore, "df", READ)
        for fn in ("curation_counts", "curations_for"):
            self.patch(rest, fn, READ)

    # ---------------------------------------------------------- reading

    def by_request(self) -> dict[str, dict]:
        """{request id: {"root": span, "self": {layer: s}, "prunes": [...]}}

        Layer self times come from the spans on the handler's thread.  A
        helper span's overlap with its parent's self time moves from the
        parent's layer to the helper's; the helper's own children are
        not counted again."""
        out: dict[str, dict] = {}
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None and not s.helper:
                kids.setdefault(id(s.parent), []).append(s)
        for s in self.spans:
            if s.req is None:
                continue
            r = out.setdefault(
                s.req, {"root": None, "self": dict.fromkeys(LAYERS, 0.0),
                        "prunes": []}
            )
            if s.name == PRUNE:
                r["prunes"].append(s)
            if s.parent is None and s.name == ROOT:
                r["root"] = s
            top = s
            while top.parent is not None and not top.helper:
                top = top.parent
            if top.parent is None:  # on the handler's thread
                r["self"][s.name] += s.self_s
            elif top is s:  # a helper span: its wait-overlap only
                p = s.parent
                waited = _overlap(s, p) - sum(
                    _overlap(s, c) for c in kids.get(id(p), ())
                )
                r["self"][p.name] -= waited
                r["self"][s.name] += waited
        return out

    # ------------------------------------------------ assembly patches

    def install_assembly(self, spark) -> None:
        """One span per ``TxTable.append``, named after its table.  Every
        ``DataFrame.persist`` is noted with the name its caller gives the
        frame; after each append, the frames whose cache has become loaded
        are put down in :attr:`first_touch` as built by that table."""
        from pyspark.sql.classic.dataframe import DataFrame

        from indra_db_spark.plans import txlog

        self.persisted: list[tuple[str, object]] = []
        self.first_touch: dict[str, str] = {}
        #: time spent in this bookkeeping, outside every span
        self.own_s = 0.0
        cache = spark._jsparkSession.sharedState().cacheManager()
        orig_append, orig_persist = txlog.TxTable.append, DataFrame.persist
        tracer = self

        def append(tx, df, *a, **kw):
            table = tx.root.rsplit("/", 1)[-1]
            span = Span(APPEND, time.monotonic(), None, None,
                        threading.get_ident(), attrs={"table": table})
            try:
                return orig_append(tx, df, *a, **kw)
            finally:
                span.t1 = time.monotonic()
                tracer.spans.append(span)
                for label, frame in tracer.persisted:
                    if label not in tracer.first_touch and _loaded(cache, frame):
                        tracer.first_touch[label] = table
                tracer.own_s += time.monotonic() - span.t1

        def persist(df, *a, **kw):
            out = orig_persist(df, *a, **kw)
            t0 = time.monotonic()
            tracer.persisted.append((_caller_label(), out))
            tracer.own_s += time.monotonic() - t0
            return out

        self._undo += [(txlog.TxTable, "append", orig_append),
                       (DataFrame, "persist", orig_persist)]
        txlog.TxTable.append = append
        DataFrame.persist = persist


def _loaded(cache, frame) -> bool:
    cached = cache.lookupCachedData(frame._jdf)
    return (not cached.isEmpty() and cached.get().cachedRepresentation()
            .cacheBuilder().isCachedColumnBuffersLoaded())


def _overlap(a: Span, b: Span) -> float:
    return max(0.0, min(a.t1, b.t1) - max(a.t0, b.t0))


def _caller_label() -> str:
    """The name the program's code assigns a persisted frame to, read off
    the calling source line (``x = _p(...)`` or ``out["x"] = _p(...)``),
    else ``file:line``."""
    import sys

    f = sys._getframe(2)
    while f is not None and "indra_db_spark" not in f.f_code.co_filename:
        f = f.f_back
    if f is None:
        return "?"
    # skip the program's own persist helper, to the line that names it
    if f.f_code.co_name == "_p" and f.f_back is not None:
        f = f.f_back
    line = linecache.getline(f.f_code.co_filename, f.f_lineno)
    m = re.search(r'(?:out\["(\w+)"\]|(\w+))\s*=\s*_p\(', line)
    if m:
        return m.group(1) or m.group(2)
    return f"{f.f_code.co_filename.rsplit('/', 1)[-1]}:{f.f_lineno}"


# ------------------------------------------------------------ Spark counters


def spark_counters(sc, wall_start: float, wall_end: float) -> dict[str, float]:
    """Totals over the jobs submitted between the two wall-clock times,
    read from Spark's status store (populated with the UI off)."""
    from py4j.protocol import Py4JJavaError

    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    tot = dict.fromkeys(
        ("jobs", "stages", "tasks", "cpu_s", "run_s", "shuffle_bytes",
         "input_bytes"), 0.0
    )
    seen: set[int] = set()
    for i in range(jobs.length()):
        job = jobs.apply(i)
        sub = job.submissionTime()
        if sub.isEmpty() or not (
            wall_start * 1e3 <= sub.get().getTime() <= wall_end * 1e3
        ):
            continue
        tot["jobs"] += 1
        ids = job.stageIds()
        for k in range(ids.length()):
            sid = ids.apply(k)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            if st.numTasks() == 0 or st.status().toString() == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += st.numTasks()
            tot["cpu_s"] += st.executorCpuTime() / 1e9
            tot["run_s"] += st.executorRunTime() / 1e3
            tot["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
            tot["input_bytes"] += st.inputBytes()
    return tot
