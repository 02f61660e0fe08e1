"""Traced mode: spans around calls into the package's public functions.

Spans are recorded from the benchmark's own files only (the package carries
no tracing): ``Tracer.install`` wraps ``Pipeline.__init__`` / ``run_step`` /
``write_checkpoint`` / ``read_checkpoint`` and the ``Table.to_parquet`` /
``to_csv`` sinks; the catalog workload opens its build/plan/exec spans
itself.  Every span runs its calls under its own Spark job group, so the
jobs, stages and SQL executions a span caused are read back from the status
store after the repetition (``Tracer.jobs``).  Spans stay in memory and are
written out once, when the run ends (``Tracer.dump``).

Also here: the ``/proc`` census of the JVM, the Python driver and the
pyspark daemon/workers used for CPU and memory in both modes.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import re
import threading
import time
from dataclasses import asdict, dataclass, field
from datetime import datetime

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- /proc census (both modes) ---------------------------------------------------


def _stat(pid: int) -> tuple[int, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    rest = raw[raw.rindex(")") + 2 :].split()
    return int(rest[1]), rest  # ppid, fields from state onwards


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def process_tree() -> dict[int, tuple[int, list[str]]]:
    """``{pid: (ppid, stat fields)}`` of this process and all its live
    descendants."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            s = _stat(int(d))
            if s:
                procs[int(d)] = s
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in procs:
            tree[pid] = procs[pid]
            todo.extend(p for p, (pp, _) in procs.items() if pp == pid)
    return tree


def _cpu(fields: list[str]) -> float:
    # utime stime cutime cstime are stat fields 14-17 (index 11-14 after state)
    return sum(int(x) for x in fields[11:15]) / _CLK_TCK


@dataclass
class Census:
    """CPU seconds of the whole app (driver, JVM, daemon, workers, including
    reaped children) and of the pyspark daemon plus workers alone."""

    app_cpu_s: float
    udf_cpu_s: float
    workers: frozenset


def census() -> Census:
    tree = process_tree()
    # workers are forked from the daemon and share its command line
    pyspark = {p for p in tree if "pyspark.daemon" in _cmdline(p)}
    daemons = {p for p in pyspark if tree[p][0] not in pyspark}
    workers = frozenset(p for p, (pp, _) in tree.items() if pp in daemons)
    return Census(
        app_cpu_s=sum(_cpu(f) for _, f in tree.values()),
        udf_cpu_s=sum(_cpu(tree[p][1]) for p in daemons | workers),
        workers=workers,
    )


def peak_rss_mb() -> float:
    """Sum of ``VmHWM`` of the Python driver, the JVM and the pyspark daemon."""
    tree = process_tree()
    me = os.getpid()
    keep = [me]
    keep += [p for p, (pp, _) in tree.items() if pp == me and "java" in _cmdline(p)]
    keep += [
        p for p, (pp, _) in tree.items() if pp in keep[1:] and "pyspark.daemon" in _cmdline(p)
    ]
    total_kb = 0
    for p in keep:
        try:
            with open(f"/proc/{p}/status") as f:
                m = re.search(r"VmHWM:\s+(\d+)", f.read())
            total_kb += int(m.group(1)) if m else 0
        except OSError:
            pass
    return total_kb / 1024.0


def gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def wait_listeners(spark) -> None:
    """Let the listener bus deliver every queued event (status store,
    streaming listener) before reading them."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


# -- spans ---------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: str = ""
    group: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def _batch_listener(sink: list):
    """A listener appending each streaming micro-batch to ``sink`` as (batch
    start, run id, batch id, triggerExecution seconds).  A stream runs its
    batches under a job group named by its run id."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            sink.append((start, str(p.runId), p.batchId, p.durationMs.get("triggerExecution", 0) / 1000.0))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


class Tracer:
    """In-memory spans, one Spark job group per span."""

    def __init__(self, spark):
        self.spark, self.sc = spark, spark.sparkContext
        self.spans: list[Span] = []
        self.run = ""
        self.batches: list[tuple] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        self._listener = None
        self._root: Span | None = None
        self.step_level: dict[str, int] = {}
        self.save_progress_steps = 0
        self._executions_seen = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._tls.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self._root
        s = Span(next(self._ids), name, time.time(), parent=parent.id if parent else None,
                 run=self.run, attrs=attrs)
        s.group = f"pb-{s.id}"
        with self._lock:
            self.spans.append(s)
        stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if stack:
                self.sc.setJobGroup(stack[-1].group, stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def root(self, run: str):
        """The span of one invocation; threads without an open span (the
        wavefront pool) parent their spans to it."""
        self.run = run
        with self.span("invocation") as s:
            self._root = s
            try:
                yield s
            finally:
                self._root = None

    def _wrap(self, owner, attr: str, name: str, attrs_of=None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(name, **(attrs_of(*a, **kw) if attrs_of else {})):
                return orig(*a, **kw)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        from pandas_etl_spark.pandas_ops import Table
        from pandas_etl_spark.pipeline import Pipeline

        tracer = self
        orig_init = Pipeline.__init__

        @functools.wraps(orig_init)
        def init(pipeline, *a, **kw):
            with tracer.span("pipeline.load"):
                orig_init(pipeline, *a, **kw)
            tracer._levels(pipeline.steps)

        Pipeline.__init__ = init
        self._patches.append((Pipeline, "__init__", orig_init))
        self._wrap(Pipeline, "run_step", "pipeline.step", lambda _p, step: {"step": step.name})
        self._wrap(Pipeline, "write_checkpoint", "pipeline.checkpoint_write")
        self._wrap(Pipeline, "read_checkpoint", "pipeline.checkpoint_read")
        self._wrap(Table, "to_parquet", "sources.sink")
        self._wrap(Table, "to_csv", "sources.sink")
        self._listener = _batch_listener(self.batches)
        self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def _levels(self, steps) -> None:
        """Wave of each step: its longest dependency chain, which is the
        wave the wavefront scheduler runs it in."""
        deps: dict[str, set] = {n: set() for n in steps.names()}
        for a, b in steps._edges:
            if b in deps:
                deps[b].add(a)
        level: dict[str, int] = {}

        def lv(n: str) -> int:
            if n not in level:
                level[n] = 1 + max((lv(d) for d in deps[n] if d in deps), default=0)
            return level[n]

        self.step_level = {n: lv(n) for n in deps}
        self.save_progress_steps = sum(1 for n in deps if steps[n].saveProgress)

    def persisted(self) -> tuple[int, float]:
        """Persistent RDDs and the storage (MiB) their blocks hold."""
        jsc = self.sc._jsc
        infos = jsc.sc().getRDDStorageInfo()
        return jsc.getPersistentRDDs().size(), sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    # -- status store ----------------------------------------------------------

    def jobs(self, span: Span) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(span.group))

    def job_intervals(self, job_ids: list[int]) -> list[tuple[float, float]]:
        """(submit, complete) epoch seconds of each finished job."""
        store = self.sc._jsc.sc().statusStore()
        out = []
        for j in job_ids:
            jd = store.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                out.append((jd.submissionTime().get().getTime() / 1000.0,
                            jd.completionTime().get().getTime() / 1000.0))
        return out

    def job_stats(self, job_ids: list[int]) -> dict:
        """Jobs, stages, tasks and stage metrics of ``job_ids`` from the
        status store, over stages that completed or failed (a stage skipped
        because its shuffle output was reused did no work)."""
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        out = dict(jobs=len(job_ids), stages=0, tasks=0, failed_tasks=0, cpu_s=0.0, run_s=0.0,
                   shuffle_read_mb=0.0, shuffle_write_mb=0.0, spill_mb=0.0, task_skew=1.0)
        stage_ids = set()
        for j in job_ids:
            stage_ids.update(jvm.scala.jdk.javaapi.CollectionConverters.asJava(store.job(j).stageIds()))
        q = self.sc._gateway.new_array(jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        for sid in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # py4j error: the store kept no attempt of it
                continue
            if sd.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["run_s"] += sd.executorRunTime() / 1e3
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
            summ = store.taskSummary(sid, sd.attemptId(), q)
            if summ.isDefined():
                rt = summ.get().executorRunTime()
                out["task_skew"] = max(out["task_skew"], rt.apply(1) / max(rt.apply(0), 1.0))
        return out

    def udf_stats(self, job_ids: set[int]) -> dict:
        """Python-boundary SQL metrics of the SQL executions that ran
        ``job_ids`` (ArrowEvalPython, MapInPandas and friends).  Looks only
        at executions newer than the previous call: call once per
        invocation."""
        jvm = self.sc._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        names = {
            "time to run Python workers": "python_s",
            # "time to initialize Python workers" is left out: on Spark 4.1.2
            # a reused worker reports its age there, not an initialisation
            "time to start Python workers": "python_boot_s",
            "data sent to Python workers": "bytes_to_python_mb",
            "data returned from Python workers": "bytes_from_python_mb",
        }
        out = dict.fromkeys(set(names.values()), 0.0)
        n = sql_store.executionsCount()
        new = sql_store.executionsList(self._executions_seen, n - self._executions_seen)
        self._executions_seen = n
        for ex in conv.asJava(new):
            ex_jobs = set(conv.asJava(ex.jobs().keySet()))
            if not ex_jobs & job_ids:
                continue
            wanted = {m.accumulatorId(): names[m.name()] for m in conv.asJava(ex.metrics()) if m.name() in names}
            if not wanted:
                continue
            values = conv.asJava(sql_store.executionMetrics(ex.executionId()))
            for acc, key in wanted.items():
                if acc in values:
                    out[key] += _metric_value(values[acc])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


_UNITS = {"B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _metric_value(text: str) -> float:
    """Total of a formatted SQL metric: ``"38.0 KiB"`` or, for several
    tasks, ``"total (min, med, max ...)\\n38.0 KiB (...)"``; sizes in MiB,
    times in seconds."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 0.0)


# -- per-invocation layer metrics ----------------------------------------------------


def _median(xs: list[float]) -> float:
    import statistics

    return statistics.median(xs) if xs else 0.0


def invocation_layers(tracer: Tracer, root: Span, wall: float, cores: int) -> dict[str, float]:
    """Layer metrics of one traced invocation (``root``, timed at ``wall``)
    and the sum of its layer walls that must account for ``wall``.  Jobs
    under the root span itself (the output check) are not counted."""
    spans = [s for s in tracer.spans if s.run == root.run and s is not root]
    kids: dict[int, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    named = lambda n: [s for s in spans if s.name == n]  # noqa: E731
    jobs_of = {s.id: tracer.jobs(s) for s in spans}
    batches_of: dict[int, list[tuple]] = {}
    for s in named("catalog.build"):
        batches_of[s.id] = [b for b in tracer.batches if s.start <= b[0] <= s.end]
        for run in {b[1] for b in batches_of[s.id]}:
            jobs_of[s.id] += list(tracer.sc.statusTracker().getJobIdsForGroup(run))
    all_jobs = sorted({j for js in jobs_of.values() for j in js})
    ex = tracer.job_stats(all_jobs)
    m = {f"exec.{k}": v for k, v in ex.items()}
    m["exec.slot_busy_ratio"] = ex["run_s"] / (wall * cores)
    m.update({f"udf.{k}": v for k, v in tracer.udf_stats(set(all_jobs)).items()})

    sinks = named("sources.sink")
    m["sources.sink_s"] = sum(s.wall for s in sinks)
    m["sources.commit_s"] = sum(s.wall - union_s(tracer.job_intervals(jobs_of[s.id])) for s in sinks)

    # pipeline: waves are the scheduler's dependency levels
    steps = named("pipeline.step")
    waves: dict[int, list[Span]] = {}
    for s in steps:
        waves.setdefault(tracer.step_level.get(s.attrs["step"], 0), []).append(s)
    crit = wait = 0.0
    for members in waves.values():
        end = max(s.end for s in members)
        crit += end - min(s.start for s in members)
        if len(members) > 1:
            wait += sum(end - s.end for s in members)
    build = hidden = 0.0
    for s in steps:
        children = kids.get(s.id, [])
        if not any(c.name == "sources.sink" for c in children):
            build += s.wall - sum(c.wall for c in children if c.name == "pipeline.checkpoint_write")
            hidden += len(jobs_of[s.id])
    reads = named("pipeline.checkpoint_read")
    m.update({
        "pipeline.load_s": sum(s.wall for s in named("pipeline.load")),
        "pipeline.step_build_s": build,
        "pipeline.step_hidden_jobs": hidden,
        "pipeline.waves": len(waves),
        "pipeline.max_wave_width": max((len(w) for w in waves.values()), default=0),
        "pipeline.wave_wait_s": wait,
        "pipeline.checkpoint_write_s": sum(s.wall for s in named("pipeline.checkpoint_write")),
        "pipeline.checkpoint_read_s": sum(s.wall for s in reads),
        "pipeline.resume_hit_ratio": len(reads) / tracer.save_progress_steps if steps and tracer.save_progress_steps else 0.0,
        "pipeline.resume_jobs": len(all_jobs) if reads else 0,
    })

    # catalog: build / plan / action per query
    builds = named("catalog.build")
    execs = named("catalog.exec")
    build_job_s = sum(union_s(tracer.job_intervals(jobs_of[s.id])) for s in builds)
    m.update({
        "catalog.build_s": sum(s.wall for s in builds),
        "catalog.build_jobs": sum(len(jobs_of[s.id]) for s in builds),
        "catalog.build_job_s": build_job_s,
        "catalog.build_py_s": sum(s.wall for s in builds) - build_job_s,
        "catalog.plan_s": sum(s.wall for s in named("catalog.plan")),
        "catalog.exec_s": sum(s.wall for s in execs),
        "catalog.leaked_blocks": sum(s.attrs.get("leaked_blocks", 0) for s in execs),
        "catalog.leaked_mb": sum(s.attrs.get("leaked_mb", 0.0) for s in execs),
    })

    # streaming: micro-batches that ran inside a catalog build
    batch_s, harness = [], 0.0
    for s in builds:
        mine = [b[3] for b in batches_of[s.id]]
        if mine:
            batch_s += mine
            harness += s.wall - sum(mine)
    m.update({
        "streaming.batches": len(batch_s),
        "streaming.batch_s": _median(batch_s),
        "streaming.harness_s": harness,
    })

    if builds:
        layer_sum = m["catalog.build_s"] + m["catalog.plan_s"] + m["catalog.exec_s"]
    else:
        outside = sum(s.wall for s in reads if s.parent == root.id)
        layer_sum = m["pipeline.load_s"] + crit + outside
    m["trace.layer_sum_s"] = layer_sum
    return m
