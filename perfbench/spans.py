"""Spans around the program's public layer functions, and Spark's own
counters attributed to them.

A :class:`Tracer` wraps registered functions of the program's modules
(and only those) while :meth:`Tracer.active` is entered. Each call
becomes a span with a name, start, end and parent, and runs under its
own Spark job group, so Spark's status store can say which jobs, stages
and tasks the call caused. Jobs submitted from threads that never entered a span (the
pipeline's pool threads) carry no group; they are attributed to the
innermost span whose interval contains their submission time, and
counted separately. Jobs that fall in no span stay unattributed.

The status store is private Spark API reached through py4j
(``SparkContext.statusStore``); it needs no UI, jar or port.
"""

from __future__ import annotations

import functools
import inspect
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    #: Spark counters of the jobs attributed to this span itself
    own: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "cpu_s",
)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._targets: list[tuple] = []
        self._patches: list[tuple[object, str, object]] = []
        #: intervals during which the targets were wrapped
        self.windows: list[tuple[float, float]] = []
        self.jobs_by_window = 0
        self.jobs_unattributed = 0
        self.failed_tasks = 0

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:  # a pool thread's first span hangs under the main thread's
            parent = self._main_stack[-1] if self._main_stack else None
        with self._lock:
            sp = Span(len(self.spans), name, parent, time.time(), attrs=attrs)
            self.spans.append(sp)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(f"{GROUP_PREFIX}{sp.id}", name)
        stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.sc.setLocalProperty("spark.job.description", prev_desc)

    def add(self, owner, attr: str, name: str, attrs_of=None) -> None:
        """Register ``owner.attr`` to be spanned as ``name`` while
        :meth:`active`; ``attrs_of(args, kwargs)`` adds span attributes."""
        self._targets.append((owner, attr, name, attrs_of))

    def _wrap(self, owner, attr: str, name: str, attrs_of) -> None:
        raw = inspect.getattr_static(owner, attr)
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw
        tracer = self

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            extra = attrs_of(args, kwargs) if attrs_of else {}
            with tracer.span(name, **extra):
                return fn(*args, **kwargs)

        self._patches.append((owner, attr, raw))
        setattr(owner, attr, classmethod(spanned) if is_cm else spanned)

    @contextmanager
    def active(self):
        """Wrap every registered target for the duration of the block."""
        start = time.time()
        try:
            for t in self._targets:
                self._wrap(*t)
            yield self
        finally:
            for owner, attr, raw in reversed(self._patches):
                setattr(owner, attr, raw)
            self._patches.clear()
            self.windows.append((start, time.time()))

    # -- attribution ----------------------------------------------------------

    def attribute(self) -> None:
        """Read Spark's status store and give every job submitted while
        tracing was active to a span: by job group, else by time window."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = self.sc._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        jobs = []
        for j in conv.asJava(store.jobsList(None)):
            sub = j.submissionTime()
            if not sub.isDefined():
                continue
            t_sub = sub.get().getTime() / 1000.0
            if not any(a - 0.001 <= t_sub <= b + 0.001 for a, b in self.windows):
                continue
            grp = j.jobGroup()
            jobs.append(
                (
                    j.jobId(),
                    t_sub,
                    grp.get() if grp.isDefined() else None,
                    list(conv.asJava(j.stageIds())),
                )
            )
        stage_owner: dict[int, int] = {}
        for job_id, _, _, stage_ids in sorted(jobs):
            for s in stage_ids:
                stage_owner.setdefault(int(s), job_id)
        stage_counts: dict[int, dict] = {}
        empty = jvm.java.util.ArrayList()
        no_q = self.sc._gateway.new_array(jvm.double, 0)
        for st in conv.asJava(store.stageList(None, False, False, no_q, empty)):
            sid = int(st.stageId())
            if sid not in stage_owner or st.status().toString() == "SKIPPED":
                continue
            c = stage_counts.setdefault(sid, dict.fromkeys(COUNTERS[1:], 0))
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            c["failed_tasks"] += st.numFailedTasks()
            c["input_bytes"] += st.inputBytes()
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            c["cpu_s"] += st.executorCpuTime() / 1e9
        per_job: dict[int, dict] = {}
        for sid, c in stage_counts.items():
            acc = per_job.setdefault(stage_owner[sid], dict.fromkeys(COUNTERS, 0))
            for k, v in c.items():
                acc[k] += v
        by_id = {sp.id: sp for sp in self.spans}
        for job_id, t_sub, grp, _ in jobs:
            counts = per_job.get(job_id, dict.fromkeys(COUNTERS, 0))
            self.failed_tasks += counts["failed_tasks"]
            sp = None
            if grp and grp.startswith(GROUP_PREFIX):
                sp = by_id.get(int(grp[len(GROUP_PREFIX):]))
            if sp is None:
                inside = [s for s in self.spans if s.start <= t_sub <= s.end]
                if not inside:
                    self.jobs_unattributed += 1
                    continue
                sp = max(inside, key=lambda s: s.start)
                self.jobs_by_window += 1
            own = sp.own or dict.fromkeys(COUNTERS, 0)
            own["jobs"] += 1
            for k in COUNTERS[1:]:
                own[k] += counts[k]
            sp.own = own

    # -- queries over the span tree -------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                out.setdefault(sp.parent, []).append(sp)
        return out

    def inclusive(self, sp: Span, kids: dict[int, list[Span]]) -> dict:
        tot = dict.fromkeys(COUNTERS, 0)
        todo = [sp]
        while todo:
            s = todo.pop()
            for k, v in s.own.items():
                tot[k] += v
            todo.extend(kids.get(s.id, ()))
        return tot

    def self_time(self, sp: Span, kids: dict[int, list[Span]]) -> float:
        """Duration minus the union of the children's intervals."""
        ivs = sorted(
            (max(c.start, sp.start), min(c.end, sp.end)) for c in kids.get(sp.id, ())
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
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
        return sp.dur - covered

    def named(self, *names: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name in names]
