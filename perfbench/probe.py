"""Counters and spans the benchmark collects from outside the program.

Nothing here edits ``frolyk_spark``: job and stage numbers come from the
Spark driver over py4j (``dagScheduler().nextJobId()`` and the
``AppStatusStore``), streaming numbers from a ``StreamingQueryListener``
the benchmark attaches, memory from ``/proc``, and layer spans from
wrappers the tracer puts around the layers' public functions for the
length of a traced run.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import statistics
import sys
import threading
import time

from py4j.protocol import Py4JError


def pct(values, q: float) -> float:
    """The ``q`` quantile (0..1) of ``values`` by linear interpolation."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def union_s(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


# --- memory and host ------------------------------------------------------

def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set (VmHWM) of a process, in kB; 0 once it is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak RSS of this driver process plus the JVM it launched."""
    kb = vm_hwm_kb()
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        kb += vm_hwm_kb(proc.pid)
    return kb / 1024.0


# --- Spark's own counters ----------------------------------------------------

STAGE_FIELDS = (
    "stages", "tasks", "failed_tasks", "exec_run_s", "exec_cpu_s", "gc_s",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class SparkCounters:
    """Job ids from the DAG scheduler and per-job stage metrics from the
    status store, read over py4j with the UI off.

    Jobs are counted by job-id range, so a job launched on a streaming
    query's thread (inside a foreachBatch body) is counted like any other:
    the benchmark is serial, so every id in a call's range is the call's.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def next_job_id(self) -> int:
        v = self._sc.dagScheduler().nextJobId()
        return v if isinstance(v, int) else int(v.get())

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store (and any Python listener) has seen finished jobs."""
        self._sc.listenerBus().waitUntilEmpty()

    def jobs(self, first: int, end: int) -> dict:
        """Totals over jobs ``first .. end-1``, read from the status store
        straight after the jobs ran (its retention would evict them)."""
        self.settle()
        store = self._sc.statusStore()
        out = dict.fromkeys(STAGE_FIELDS, 0)
        out.update(jobs=end - first, missing_jobs=0, spans=[])
        seen: set[int] = set()
        for jid in range(first, end):
            try:
                job = store.job(jid)
            except Py4JError:
                out["missing_jobs"] += 1
                continue
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined() and comp.isDefined():
                out["spans"].append(
                    (sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0)
                )
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JError:
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["exec_run_s"] += st.executorRunTime() / 1000.0
                out["exec_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1000.0
                out["input_bytes"] += st.inputBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


class StreamProbe:
    """Per-batch progress of every streaming query, from a listener."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        probe = self
        self.batches: list[dict] = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = event.progress
                probe.batches.append({
                    "t": time.monotonic(),
                    "query": str(p.id),
                    "batch": p.batchId,
                    "dur": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_mem": sum(s.memoryUsedBytes for s in p.stateOperators),
                })

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self._spark = spark
        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


# --- spans -------------------------------------------------------------------

#: (module, attribute, layer, is a context manager) of every layer entry
#: point the tracer wraps. ``get_spark`` is timed directly by the runner,
#: before the tracer exists.
TRACED = (
    ("frolyk_spark.sources.catalog", "load_table", "sources", False),
    ("frolyk_spark.sources.streams", "stage_stream_dir", "sources", False),
    ("frolyk_spark.sources.streams", "stage_multi_file_drop", "sources", False),
    ("frolyk_spark.sources.streams", "stage_keyed_file_drop", "sources", False),
    ("frolyk_spark.functions.loops", "fixed_plan_loop", "loops", True),
    ("frolyk_spark.functions.lineage", "cut_lineage", "lineage", False),
    ("frolyk_spark.streaming.jobs", "run_available_now", "streaming", False),
)


class Tracer:
    """In-memory spans ``{name, layer, start, end, parent, run, jobs}``.

    While ``enabled``, the wrappers installed by :meth:`install` record a
    span around each call into a traced layer function, including calls
    made on a streaming query's thread; a span opened there has the
    benchmark call that started the query as its parent.
    """

    def __init__(self, counters: SparkCounters, run_id: str):
        self.counters = counters
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._root: int | None = None
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else self._root
        rec = {"id": sid, "name": name, "layer": layer, "parent": parent,
               "run": self.run_id, "start": time.monotonic(),
               "job0": self.counters.next_job_id()}
        stack.append(sid)
        if parent is None:
            self._root = sid
        try:
            yield rec
        finally:
            stack.pop()
            if self._root == sid:
                self._root = None
            rec["end"] = time.monotonic()
            rec["jobs"] = self.counters.next_job_id() - rec.pop("job0")
            self.spans.append(rec)

    def _wrap(self, fn, name: str, layer: str, cm: bool):
        if cm:
            @contextlib.contextmanager
            def wrapped_cm(*a, **kw):
                with self.span(name, layer), fn(*a, **kw) as value:
                    yield value
            return functools.wraps(fn)(wrapped_cm)

        @functools.wraps(fn)
        def wrapped(*a, **kw):
            with self.span(name, layer):
                return fn(*a, **kw)
        return wrapped

    def install(self) -> None:
        """Swap every traced function for its wrapper, in its defining
        module and wherever another loaded module imported it by name."""
        import importlib

        from frolyk_spark.tasks.task import Task

        for mod_name, attr, layer, cm in TRACED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, f"{mod_name.split('.', 1)[1]}.{attr}", layer, cm)
            for other in list(sys.modules.values()):
                name = getattr(other, "__name__", "") or ""
                if not (name.startswith("frolyk_spark") or name == "__spark_entry__"):
                    continue
                # aliased imports (``import cut_lineage as _cut_lineage``)
                # are bound under another name: match on identity
                for alias, value in list(vars(other).items()):
                    if value is orig:
                        self._undo.append((other, alias, orig))
                        setattr(other, alias, wrapped)
        orig_start = Task.start_files
        self._undo.append((Task, "start_files", orig_start))
        Task.start_files = self._wrap(orig_start, "tasks.Task.start_files", "tasks", False)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per layer: span time not covered by the span's own children."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered = union_s(
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if min(b, s["end"]) > max(a, s["start"])
        )
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
    return out
