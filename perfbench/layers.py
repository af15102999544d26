"""Per-layer instruments, all attached from outside the package.

- ``JobReader`` reads Spark's live status store (jobs, stages, tasks,
  executor time, shuffle and input bytes) and attributes every job to
  the query whose interval it was submitted in.
- ``StreamListener`` is the benchmark's own ``StreamingQueryListener``:
  trigger counts, ``durationMs`` phases and state-store size.
- ``RssSampler`` polls the resident memory of this process and every
  descendant (JVM, Python workers).
- ``Tracer`` wraps the public functions of the layer modules with
  spans, for the traced run only.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

#: operator modules named in the layer table (operators.<m>)
OPERATOR_MODULES = (
    "graph",
    "similarity",
    "dedup",
    "lsh_planner",
    "text",
    "analytics",
    "joins",
    "timeseries",
    "skew",
    "sampling",
    "multimodal",
    "ranking",
)

#: traced layer name -> the package modules whose public functions it covers
TRACED_LAYERS = {
    "sources": ("kaylee_spark.sources", "kaylee_spark.sources.sinks"),
    "streaming": ("kaylee_spark.streaming", "kaylee_spark.streaming.stateful"),
    "core.mapreduce": ("kaylee_spark.core.mapreduce",),
    **{f"operators.{m}": (f"kaylee_spark.operators.{m}",) for m in OPERATOR_MODULES},
}

#: per-query Spark counters, summed over the jobs of one query
SPARK_COUNTERS = (
    "jobs",
    "group_jobs",
    "stages",
    "stages_skipped",
    "tasks",
    "tasks_failed",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
)

#: per-query streaming counters from the listener, with their units
STREAM_COUNTERS = {
    "queries": "count",
    "triggers": "count",
    "trigger_s": "s",
    "add_batch_s": "s",
    "wal_commit_s": "s",
    "commit_offsets_s": "s",
    "planning_s": "s",
    "state_rows": "count",
    "state_bytes": "bytes",
    "idle_s": "s",
}


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class JobReader:
    """Reads the jobs submitted since the last call from the status store.

    Job and stage ids are allocated in submission order, and the driver
    runs one query at a time, so the jobs between two reads are exactly
    the jobs of the query in between, including those the streaming
    engine submits from its own thread.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = (
            jvm.java.lang.Class.forName("com.fasterxml.jackson.module.scala.DefaultScalaModule$")
            .getField("MODULE$")
            .get(None)
        )
        self._json.registerModule(scala_module)
        self._next_job = 0
        self._next_stage = 0
        self.skip_to_now()

    def _get(self, what: str, key: int) -> dict | None:
        """``statusStore().<what>(key)`` as a dict; None if not stored
        (not submitted yet, or evicted: skipped stages go first)."""
        try:
            return json.loads(self._json.writeValueAsString(getattr(self._store, what)(key)))
        except Exception as exc:  # py4j wraps the JVM's NoSuchElementException
            if "NoSuchElementException" in str(exc):
                return None
            raise

    def _new_jobs(self) -> list[dict]:
        self._bus.waitUntilEmpty()
        jobs = []
        while (job := self._get("job", self._next_job)) is not None:
            jobs.append(job)
            self._next_job += 1
        return jobs

    def skip_to_now(self) -> None:
        """Forget every job submitted so far."""
        jobs = self._new_jobs()
        for job in jobs:
            self._next_stage = max([self._next_stage, *(s + 1 for s in job["stageIds"])])

    def read(self, group: str | None, wall_s: float) -> dict:
        """Counters of the jobs submitted since the previous read."""
        c = dict.fromkeys(SPARK_COUNTERS, 0)
        spans = []
        stage_ids = set()
        for job in self._new_jobs():
            c["jobs"] += 1
            c["group_jobs"] += int(group is not None and job.get("jobGroup") == group)
            c["stages_skipped"] += job["numSkippedStages"]
            if job.get("submissionTime") and job.get("completionTime"):
                spans.append((job["submissionTime"] / 1e3, job["completionTime"] / 1e3))
            # a stage id below the cursor ran in an earlier query; only
            # count stages first submitted in this window
            stage_ids.update(s for s in job["stageIds"] if s >= self._next_stage)
        for sid in sorted(stage_ids):
            st = self._get("lastStageAttempt", sid)
            if st is None or st["status"] in ("SKIPPED", "PENDING"):
                continue
            c["stages"] += 1
            c["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
            c["tasks_failed"] += st["numFailedTasks"]
            c["executor_run_s"] += st["executorRunTime"] / 1e3
            c["executor_cpu_s"] += st["executorCpuTime"] / 1e9
            c["gc_s"] += st["jvmGcTime"] / 1e3
            c["input_bytes"] += st["inputBytes"]
            c["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            c["shuffle_read_bytes"] += st["shuffleReadBytes"]
        if stage_ids:
            self._next_stage = max(self._next_stage, max(stage_ids) + 1)
        c["job_span_s"] = _union_length(spans)
        c["outside_jobs_s"] = max(0.0, wall_s - c["job_span_s"])
        return c


class StreamListener(StreamingQueryListener):
    """Collects streaming progress into the bucket of the running query."""

    def __init__(self):
        self._lock = threading.Lock()
        self._bucket: dict | None = None
        self._started: dict[str, float] = {}

    def open_bucket(self) -> None:
        with self._lock:
            self._bucket = dict.fromkeys(STREAM_COUNTERS, 0)
            self._bucket["_state"] = {}
            self._bucket["_wall"] = 0.0

    def close_bucket(self) -> dict:
        """Counters of the streaming queries seen since ``open_bucket``."""
        with self._lock:
            b, self._bucket = self._bucket, None
        state = b.pop("_state")
        b["state_rows"] = sum(rows for rows, _ in state.values())
        b["state_bytes"] = sum(mem for _, mem in state.values())
        b["idle_s"] = max(0.0, b.pop("_wall") - b["trigger_s"])
        return b

    def onQueryStarted(self, event):
        with self._lock:
            self._started[str(event.runId)] = time.perf_counter()
            if self._bucket is not None:
                self._bucket["queries"] += 1

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs or {}
        rows = sum(op.numRowsTotal for op in p.stateOperators)
        mem = sum(op.memoryUsedBytes for op in p.stateOperators)
        with self._lock:
            b = self._bucket
            if b is None:
                return
            b["triggers"] += 1
            b["trigger_s"] += d.get("triggerExecution", 0) / 1e3
            b["add_batch_s"] += d.get("addBatch", 0) / 1e3
            b["wal_commit_s"] += d.get("walCommit", 0) / 1e3
            b["commit_offsets_s"] += d.get("commitOffsets", 0) / 1e3
            b["planning_s"] += d.get("queryPlanning", 0) / 1e3
            run = str(p.runId)
            old_rows, old_mem = b["_state"].get(run, (0, 0))
            b["_state"][run] = (max(old_rows, rows), max(old_mem, mem))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            started = self._started.pop(str(event.runId), None)
            if self._bucket is not None and started is not None:
                self._bucket["_wall"] += time.perf_counter() - started

    def __str__(self):
        return "perfbench_stream_listener"


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and its descendants.

    A child that runs its parent's executable at about its parent's
    virtual size (within 5 %) is a fork that has not exec'd yet (the
    JVM forks to run helper commands) and shares the parent's pages, so
    it is not counted again. Exact equality is not enough: the parent's
    size can change between reading its record and the child's, and
    then the whole JVM was counted twice. Python workers are forks of
    the pyspark daemon too, but count once they have grown past it.
    """
    procs: dict[int, tuple[int, int, int]] = {}  # pid -> (ppid, vsize, rss pages)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        procs[int(entry)] = (int(fields[1]), int(fields[20]), int(fields[21]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    pages, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        ppid, vsize, rss = procs.get(pid, (0, 0, 0))
        parent_vsize = procs.get(ppid, (0, 0, 0))[1]
        unexeced_fork = (
            pid != root and abs(vsize - parent_vsize) <= 0.05 * parent_vsize and _exe(pid) == _exe(ppid)
        )
        if not unexeced_fork:
            pages += rss
    return pages * os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """Peak resident memory of this process tree, polled in a thread."""

    def __init__(self, interval_s: float = 0.2):
        self.peak_bytes = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(pid))
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Tracer:
    """Spans around the layer modules' public functions.

    A span is (trace, id, parent, name, start, end); a trace is one
    query execution. ``install`` replaces every reference the package
    holds to a public function of a traced module with a wrapper that
    records a span; ``uninstall`` puts the originals back.
    """

    def __init__(self):
        self.spans: list[tuple] = []
        self.trace: str | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append((self.trace, sid, parent, name, start, end))

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        wrappers: dict[int, object] = {}
        for layer, module_names in TRACED_LAYERS.items():
            for module_name in module_names:
                module = importlib.import_module(module_name)
                for name, obj in vars(module).items():
                    if name.startswith("_") or getattr(obj, "__module__", None) != module_name:
                        continue
                    # pandas/arrow UDF objects are functions too, but run in workers
                    if inspect.isfunction(obj) and not hasattr(obj, "evalType"):
                        wrappers[id(obj)] = self._wrap(layer, obj)
                    elif inspect.isclass(obj):
                        for meth_name, meth in list(vars(obj).items()):
                            if not meth_name.startswith("_") and inspect.isfunction(meth):
                                self._patched.append((obj, meth_name, meth))
                                setattr(obj, meth_name, self._wrap(layer, meth))
        for module in [m for n, m in sys.modules.items() if n.startswith("kaylee_spark") and m]:
            for name, obj in list(vars(module).items()):
                wrapper = wrappers.get(id(obj))
                if wrapper is not None:
                    self._patched.append((module, name, obj))
                    setattr(module, name, wrapper)

    def uninstall(self) -> None:
        for owner, name, original in reversed(self._patched):
            setattr(owner, name, original)
        self._patched.clear()

    def self_times(self, traces: set[str]) -> dict[str, dict[str, tuple[int, float]]]:
        """trace -> layer -> (calls, self seconds), for the given traces.

        A span's self time is its duration minus the part of it that
        its direct children cover.
        """
        kids: dict[int, list[tuple[float, float]]] = {}
        for trace, _sid, parent, _name, start, end in self.spans:
            if trace in traces and parent is not None:
                kids.setdefault(parent, []).append((start, end))
        out: dict[str, dict[str, tuple[int, float]]] = {t: {} for t in traces}
        for trace, sid, _parent, name, start, end in self.spans:
            if trace not in traces:
                continue
            clipped = [(max(a, start), min(b, end)) for a, b in kids.get(sid, ()) if b > start and a < end]
            calls, self_s = out[trace].get(name, (0, 0.0))
            out[trace][name] = (calls + 1, self_s + (end - start) - _union_length(clipped))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [dict(zip(("trace", "id", "parent", "name", "start", "end"), s)) for s in self.spans],
                f,
            )
