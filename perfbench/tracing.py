"""Spans, py4j round-trip counts and Spark counters, recorded from outside
the program.

:class:`Tracer` wraps public functions of the engine's modules in place
(the defining module and every loaded module that imported the same
function object), so each call becomes a span ``(name, start, end,
parent, op id)``. Spans live in memory; :meth:`Tracer.op_summary` folds
one operation's spans into per-layer totals. Nothing here is imported by
the program, and with ``enabled`` false every wrapper is a plain
pass-through.
"""

from __future__ import annotations

import functools
import importlib
import re
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

#: job group the build-phase wrappers put on the JVM thread, so Spark jobs
#: launched while a DataFrame is being built can be told from the action's
BUILD_GROUP = "perfbench-build"

#: (module, attribute, span name, is a build-phase call). ``Class.method``
#: attributes wrap the method on the class.
TARGETS = [
    ("klepto_spark.session", "get_spark", "session.get_spark", False),
    ("klepto_spark.sources.catalog", "connect", "sources.connect", False),
    ("klepto_spark.sources.catalog", "FileCatalog.load", "sources.load",
     False),
    ("klepto_spark.sources.catalog", "FileCatalog.structure",
     "sources.structure", False),
    ("klepto_spark.operators.pipeline", "build_table_df", "pipeline.build",
     True),
    ("klepto_spark.functions.anonymise", "anonymise_spark_factored",
     "anonymise.compile", False),
    ("klepto_spark.engine", "steal", "engine.steal", False),
    ("klepto_spark.sinks.writers", "write_table", "sinks.write", False),
    ("klepto_spark.sinks.writers", "merge_table", "sinks.merge", False),
    ("klepto_spark.sinks.sqltext", "dump_table_sql", "sinks.sqltext", False),
    ("klepto_spark.incremental", "steal_cdc", "incremental.steal_cdc", False),
    ("klepto_spark.operators.dedup", "minhash_lsh_pairs", "dedup.lsh_pairs",
     True),
    ("klepto_spark.operators.dedup", "semdedup", "dedup.semdedup", True),
    ("klepto_spark.operators.components", "dedup_keep_best",
     "components.keep_best", True),
    ("klepto_spark.operators.text", "gopher_signals", "text.gopher", True),
    ("klepto_spark.operators.text", "dup_span_stats", "text.dup_span", True),
]
#: loaders returned by this factory are wrapped too: each call of the
#: returned function is a ``sources.load`` span
LOADER_FACTORY = ("klepto_spark.operators.pipeline", "parquet_loader")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    py4j_calls: int
    id: int = 0


@dataclass
class _ThreadState:
    stack: list = field(default_factory=list)
    py4j: int = 0
    build_depth: int = 0


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.op: int | None = None
        self.op_span: int | None = None
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []
        self._sc = None

    # -- state ------------------------------------------------------------

    def _state(self) -> _ThreadState:
        st = getattr(self._local, "st", None)
        if st is None:
            st = self._local.st = _ThreadState()
        return st

    def _record(self, span: Span) -> int:
        with self._lock:
            span.id = len(self.spans)
            self.spans.append(span)
            return span.id

    def _set_group(self, group: str | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty("spark.jobGroup.id", group)

    # -- spans ------------------------------------------------------------

    def call(self, name: str, build: bool, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        st = self._state()
        parent = st.stack[-1] if st.stack else self.op_span
        slot = Span(name, 0.0, 0.0, parent, self.op, 0)
        sid = self._record(slot)
        st.stack.append(sid)
        if build:
            st.build_depth += 1
            if st.build_depth == 1:
                self._set_group(BUILD_GROUP)
        calls0 = st.py4j
        slot.start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            slot.end = time.perf_counter()
            slot.py4j_calls = st.py4j - calls0
            st.stack.pop()
            if build:
                st.build_depth -= 1
                if st.build_depth == 0:
                    self._set_group(None)

    def begin_op(self, op: int) -> None:
        self.op = op
        self.op_span = self._record(Span("op", time.perf_counter(), 0.0,
                                         None, op, 0))

    def end_op(self) -> None:
        self.spans[self.op_span].end = time.perf_counter()
        self.op = self.op_span = None

    # -- installation -----------------------------------------------------

    def install(self) -> None:
        """Wrap every target."""
        for module, attr, name, build in TARGETS:
            self._wrap(module, attr, self._wrapper(name, build))
        self._wrap(*LOADER_FACTORY, self._loader_wrapper())

    def attach(self, sc) -> None:
        """Bind to a live SparkContext: tag build-phase jobs with a job
        group, and count py4j round-trips per thread."""
        self._sc = sc
        client_cls = type(sc._gateway._gateway_client)
        original = client_cls.send_command
        tracer = self

        @functools.wraps(original)
        def send_command(client, *args, **kwargs):
            if tracer.enabled:
                tracer._state().py4j += 1
            return original(client, *args, **kwargs)
        client_cls.send_command = send_command
        self._restore.append((client_cls, "send_command", original))

    def _wrapper(self, name: str, build: bool):
        tracer = self

        def make(fn):
            @functools.wraps(fn)
            def wrapped(*args, **kwargs):
                return tracer.call(name, build, fn, *args, **kwargs)
            return wrapped
        return make

    def _loader_wrapper(self):
        tracer = self

        def make(factory):
            @functools.wraps(factory)
            def wrapped(*args, **kwargs):
                load = factory(*args, **kwargs)

                @functools.wraps(load)
                def traced_load(*a, **kw):
                    return tracer.call("sources.load", False, load, *a, **kw)
                return traced_load
            return wrapped
        return make

    def _wrap(self, module: str, attr: str, make) -> None:
        mod = importlib.import_module(module)
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name)
            original = cls.__dict__[meth]
            setattr(cls, meth, make(original))
            self._restore.append((cls, meth, original))
            return
        original = getattr(mod, attr)
        wrapped = make(original)
        for name, other in list(sys.modules.items()):
            if other is None or not (name.startswith("klepto_spark")
                                     or name == "__spark_entry__"):
                continue
            if getattr(other, attr, None) is original:
                setattr(other, attr, wrapped)
                self._restore.append((other, attr, original))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._restore):
            setattr(owner, attr, original)
        self._restore.clear()

    # -- summaries --------------------------------------------------------

    def op_summary(self, op: int) -> dict:
        """Per-layer totals for one operation: summed span seconds by name,
        ``pipeline.build`` as self time (minus its child spans), py4j
        calls inside pipeline builds, and load call counts."""
        spans = [s for s in self.spans if s.op == op and s.name != "op"]
        children: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            dur = s.end - s.start
            if s.name == "pipeline.build":
                dur -= _covered(s, children[s.id])
                out["pipeline.py4j_calls"] += s.py4j_calls
            out[s.name + "_s"] += dur
            if s.name == "sources.load":
                out["sources.load_calls"] += 1
        return dict(out)


def _covered(span: Span, kids: list[Span]) -> float:
    """Length of the part of ``span`` that its child spans cover."""
    total, edge = 0.0, span.start
    for k in sorted(kids, key=lambda k: k.start):
        lo, hi = max(k.start, edge), min(k.end, span.end)
        if hi > lo:
            total += hi - lo
            edge = hi
    return total


# --------------------------------------------------------------------------
# Spark's own counters, read from the status store
# --------------------------------------------------------------------------

STAGE_FIELDS = {
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.input_bytes": ("inputBytes", 1),
    "spark.output_bytes": ("outputBytes", 1),
}


class SparkCounters:
    """Jobs, stages, tasks and stage metrics between two marks."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.jsc = sc._jsc.sc()

    def _drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        """Id the next job will get."""
        self._drain()
        jobs = self.jsc.statusStore().jobsList(None)
        return jobs.apply(0).jobId() + 1 if jobs.size() else 0

    def since(self, first_job: int) -> dict:
        self._drain()
        store = self.jsc.statusStore()
        jobs = store.jobsList(None)  # newest first
        out = dict.fromkeys(["spark.jobs", "spark.stages", "spark.tasks",
                             "spark.spill_bytes",
                             "operators.construction_jobs",
                             *STAGE_FIELDS], 0)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() < first_job:
                break
            out["spark.jobs"] += 1
            group = job.jobGroup()
            if group.isDefined() and group.get() == BUILD_GROUP:
                out["operators.construction_jobs"] += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                stage = store.lastStageAttempt(ids.apply(k))
                if stage.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["spark.stages"] += 1
                out["spark.tasks"] += stage.numTasks()
                out["spark.spill_bytes"] += (stage.diskBytesSpilled()
                                             + stage.memoryBytesSpilled())
                for key, (getter, scale) in STAGE_FIELDS.items():
                    out[key] += getattr(stage, getter)() * scale
        out["spark.persisted_rdds_after"] = (
            self.sc._jsc.getPersistentRDDs().size())
        return out


# --------------------------------------------------------------------------
# Memory, read from /proc (no psutil)
# --------------------------------------------------------------------------

_HWM = re.compile(r"^VmHWM:\s+(\d+)\s+kB", re.M)


def peak_rss_mb(pid: int | str = "self") -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            m = _HWM.search(fh.read())
    except OSError:
        return 0.0
    return int(m.group(1)) / 1024 if m else 0.0
