"""The benchmark's workloads and the loops that time them.

Three workloads, each stressing different layers (see README.md):

- ``batch_ops``: one-shot operator keys; driver, planning and job
  scheduling bound. ``components_parts`` runs the ``loops`` layer;
  no key enters ``streaming`` or ``tasks``.
- ``stream_jobs``: micro-batch keys from ``streaming.jobs``; the
  per-batch job floor dominates. No key enters ``loops``.
- ``task_topics``: the frolyk Task API over file topics, closed-loop
  drain for throughput and open-loop live feed for latency.
"""

from __future__ import annotations

import contextlib
import os
import random
import time

import numpy as np

from perfbench import probe, topics

#: scale and seed of the generated tables; fixed, so goldens stay valid
DATA_SF = 0.002
DATA_SEED = 42

BATCH_OPS = (
    "q1_pricing_summary",
    "q5_local_supplier",
    "asof_purchase_click",
    "dedup_minhash",
    "components_parts",
)
#: chosen by traced job counts at DATA_SF (see README.md): the cheapest of
#: the heaviest-job stream keys (foreachBatch versioned state), plus one
#: engine-managed state key
STREAM_JOBS = (
    "stream_quantile_sketch",
    "stream_tumbling",
)
KEYS = {"batch_ops": BATCH_OPS, "stream_jobs": STREAM_JOBS}
CONTROL_KEY = "q1_pricing_summary"

#: task_topics sizes: a pre-staged backlog for the closed-loop drain and
#: a fixed open-loop feed rate for the live phase, well below what the
#: drain sustains
BACKLOG_FILES = 8
BACKLOG_PER_FILE = 5_000
LIVE_FILES_PER_S = 5
LIVE_PER_FILE = 1_000
#: untimed drains, then timed drains, per run; the live feed then runs
#: for the measured window. After one warm drain, drain times still fell
#: by about 15% over the next five.
WARM_DRAINS = 2
MIN_DRAINS = 5
#: live latency counts files due from this long after the feed starts:
#: the first epochs of a new query run slower than its steady state
LIVE_WARM_S = 2.0

#: timed passes per run at least, whatever the window
MIN_PASSES = 3

#: traced runs alternate untraced and traced passes in this order (at
#: least one full cycle), so warm-up drift does not read as overhead
TRACE_ORDER = (False, True, True, False)

#: a call slower than this counts as failed (a timeout)
CALL_TIMEOUT_S = 60.0


def force(df) -> tuple[int, int]:
    """Evaluate every output column once: (row count, xxhash64 checksum).

    The benchmark's own copy of the checksum forcing, so that the
    measured work does not change when ``bench.py`` does. ``count()``
    alone would let Catalyst prune map-only operators' projections.
    """
    from pyspark.sql import functions as F

    row = (
        df.select(F.xxhash64(F.struct(*[F.col(c) for c in df.columns])).alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("chk"))
        .collect()[0]
    )
    return int(row.n), int(row.chk) if row.chk is not None else 0


class Run:
    """State shared by one benchmark run: session, counters, outcomes."""

    def __init__(self, spark, work: str, data: str, seed: int,
                 tracer: probe.Tracer | None, listener: probe.StreamProbe | None, log):
        import __spark_entry__

        self.spark, self.work, self.data = spark, work, data
        self.seed, self.tracer, self.listener, self.log = seed, tracer, listener, log
        self.rng = random.Random(seed)
        self.queries = __spark_entry__.queries()
        self.counters = probe.SparkCounters(spark)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.passes: list[dict] = []
        #: wall-clock time the untimed set-up ended
        self.setup_done = 0.0

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        self.log(f"FAILED: {what}")

    def traced(self) -> bool:
        return self.tracer is not None and self.tracer.enabled

    @contextlib.contextmanager
    def section(self, name: str, layer: str):
        """Time a block: wall, job-id range and, when traced, a span and
        the status-store totals of the block's jobs."""
        rec: dict = {"traced": self.traced()}
        j0 = self.counters.next_job_id()
        w0 = time.time()
        rec["t0"] = time.monotonic()
        with self.tracer.span(name, layer) if rec["traced"] else contextlib.nullcontext():
            yield rec
        rec["t1"] = time.monotonic()
        rec["wall_s"] = rec["t1"] - rec["t0"]
        rec["window"] = (w0, w0 + rec["wall_s"])
        j1 = self.counters.next_job_id()
        rec["jobs"] = j1 - j0
        if rec["traced"]:
            rec["spark"] = self.counters.jobs(j0, j1)

    def call(self, key: str, golden: dict | None, timed: bool) -> dict:
        """One key call plus its checksum force, checked against its golden."""
        self.attempted += 1
        fn = self.queries[key]
        try:
            with self.section(f"call {key}", "operators") as rec:
                df = fn(self.spark, self.data)
                rec["call_s"] = time.monotonic() - rec["t0"]
                with (self.tracer.span(f"force {key}", "operators") if rec["traced"]
                      else contextlib.nullcontext()):
                    n, chk = force(df)
        except Exception as exc:  # a failing key is counted, not fatal
            self.fail(f"{key}: {type(exc).__name__}: {str(exc)[:200]}")
            return {"key": key, "timed": timed, "ok": False}
        rec.update(key=key, timed=timed, force_s=rec["wall_s"] - rec["call_s"],
                   rows=n, chk=chk, ok=True)
        if golden is None or [n, chk] != [golden["rows"], golden["chk"]]:
            self.fail(f"{key}: got rows={n} chk={chk}, golden {golden}")
            rec["ok"] = False
        elif rec["wall_s"] > CALL_TIMEOUT_S:
            self.fail(f"{key}: {rec['wall_s']:.1f}s exceeds {CALL_TIMEOUT_S}s")
            rec["ok"] = False
        return rec

    def pass_over(self, keys, goldens: dict, timed: bool) -> dict:
        order = list(keys)
        self.rng.shuffle(order)
        j0 = self.counters.next_job_id()
        t0 = time.monotonic()
        recs = [self.call(k, goldens.get(k), timed) for k in order]
        t1 = time.monotonic()
        p = {"wall_s": t1 - t0, "t0": t0, "t1": t1, "calls": recs,
             "traced": self.traced(), "jobs": self.counters.next_job_id() - j0}
        for r in recs:
            if r["ok"]:
                self.log(f"  {r['key']}: {r['wall_s']:.3f}s jobs={r['jobs']}")
        return p

    def control(self) -> float:
        """An interleaved q1 control call; explains host noise."""
        t0 = time.monotonic()
        force(self.queries[CONTROL_KEY](self.spark, self.data))
        return time.monotonic() - t0


# --- batch_ops / stream_jobs -------------------------------------------------

def measure_keys(run: Run, workload: str, goldens: dict, seconds: float) -> None:
    """Whole timed passes until ``seconds`` have elapsed (at least
    ``MIN_PASSES``, so a slow first pass does not change the count).
    In a traced run the passes follow ``TRACE_ORDER``, so the difference
    of the traced and untraced medians is the tracing overhead."""
    deadline = time.monotonic() + seconds
    i = 0
    while True:
        if run.tracer is not None:
            run.tracer.enabled = TRACE_ORDER[i % len(TRACE_ORDER)]
        run.passes.append(run.pass_over(KEYS[workload], goldens, timed=True))
        i += 1
        if time.monotonic() >= deadline and i >= (
                MIN_PASSES if run.tracer is None else len(TRACE_ORDER)):
            break
    if run.tracer is not None:
        run.tracer.enabled = False


# --- task_topics --------------------------------------------------------------

class TaskTopics:
    """Drain and live phases of the task_topics workload."""

    def __init__(self, run: Run, name: str = "topics"):
        self.run = run
        self.gen = topics.Generator(run.seed)
        self.base = os.path.join(run.work, name)
        self.backlog = os.path.join(self.base, "backlog")
        self.backlog_ids: np.ndarray | None = None
        self.n_drain = 0
        self.drains: list[dict] = []

    def stage(self) -> float:
        """Write the drain backlog once; returns the staging time."""
        t0 = time.monotonic()
        os.makedirs(self.backlog)
        now_ms = time.time() * 1000.0
        ids = [self.gen.write(self.backlog, BACKLOG_PER_FILE, now_ms)
               for _ in range(BACKLOG_FILES)]
        self.backlog_ids = np.concatenate(ids)
        return time.monotonic() - t0

    def _start(self, name: str, topic_dir: str, *, available_now: bool, hook=None):
        task = topics.make_task()
        queries = task.start_files(
            self.run.spark, topic_dirs={topics.TOPIC: topic_dir},
            schemas={topics.TOPIC: topics.DDL}, partition_col="part",
            offset_col="offset", checkpoint_root=os.path.join(self.base, "ckpt", name),
            sink_dir=os.path.join(self.base, "sink", name),
            available_now=available_now, batch_hook=hook,
        )
        return task, queries, os.path.join(self.base, "sink", name)

    def drain(self, timed: bool) -> dict:
        """Closed loop: consume the whole pre-staged backlog."""
        run = self.run
        run.attempted += 1
        name = f"drain{self.n_drain}"
        self.n_drain += 1
        with run.section(name, "bench") as rec:
            task, queries, sink = self._start(name, self.backlog, available_now=True)
            for q in queries:
                q.awaitTermination()
            task.stop()
        rec.update(timed=timed, sink=sink, msgs=BACKLOG_FILES * BACKLOG_PER_FILE,
                   produced=len(self.backlog_ids))
        run.log(f"  {name}: {rec['wall_s']:.3f}s jobs={rec['jobs']}")
        return rec

    def verify_drain(self, rec: dict) -> None:
        keys, _ = topics.read_sink(rec["sink"])
        bad = topics.key_set_failures(self.backlog_ids, keys)
        if bad:
            self.run.fail(f"drain {rec['sink']}: {bad} missing/duplicate/stray messages")

    def live_phase(self, seconds: float) -> dict:
        """Open loop: a fixed file rate into a running (not availableNow)
        query; per-message latency runs from the file's due time to the
        batch hook of the epoch that emitted the message."""
        run = self.run
        run.attempted += 1
        topic_dir = os.path.join(self.base, "live")
        os.makedirs(topic_dir)
        loop = topics.OpenLoop(self.gen, topic_dir, per_file=LIVE_PER_FILE,
                               files_per_s=LIVE_FILES_PER_S, seconds=seconds)
        hook_at: dict[int, float] = {}
        lag: list[int] = []
        taken: set[str] = set()
        source_log = os.path.join(self.base, "ckpt", "live", topics.TOPIC, "sources", "0")

        def hook(_topic, epoch):
            hook_at[epoch] = time.time()
            taken.update(topics.source_files(source_log, epoch))
            lag.append(loop.written - len(taken))

        with run.section("live", "bench") as rec:
            task, queries, sink = self._start("live", topic_dir, available_now=False,
                                              hook=hook)
            loop.start()
            loop.join()
            for q in queries:
                q.processAllAvailable()
            task.stop()
        if loop.error is not None:
            run.fail(f"live generator: {loop.error!r}")
        rec.update(epochs=len(hook_at), sink=sink, hook_at=hook_at, lag_files=lag,
                   late_ms=loop.late_ms, expected=loop.expected, due_ms=loop.due_ms,
                   msgs=loop.written * LIVE_PER_FILE)
        run.log(f"  live: {rec['wall_s']:.3f}s epochs={rec['epochs']} files={loop.written}")
        return rec

    def verify_live(self, rec: dict) -> list[float]:
        """Exact key-set check; returns the latencies, in ms, of the
        messages in files due from ``LIVE_WARM_S`` on."""
        keys, epochs = topics.read_sink(rec["sink"])
        expected = np.concatenate(rec["expected"]) if rec["expected"] else np.zeros(0, np.int64)
        bad = topics.key_set_failures(expected, keys)
        if bad:
            self.run.fail(f"live: {bad} missing/duplicate/stray messages")
        rec["produced"] = len(keys)
        epoch_of = dict(zip(keys.tolist(), epochs.tolist()))
        lat = []
        skip = int(LIVE_WARM_S * LIVE_FILES_PER_S)
        for due, ids in zip(rec["due_ms"][skip:], rec["expected"][skip:]):
            for i in ids.tolist():
                e = epoch_of.get(i)
                if e is not None and e in rec["hook_at"]:
                    lat.append(rec["hook_at"][e] * 1000.0 - due)
        return lat
