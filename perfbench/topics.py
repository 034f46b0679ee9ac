"""The task_topics workload: a frolyk Task consuming partitioned file topics.

A seeded generator writes parquet files of messages into a topic
directory, each file first under a dot-name the file source ignores and
then renamed into place, so a reader never sees a partial file. Messages
go to ``PARTITIONS`` partitions with a Zipf-skewed choice, carry a
creation stamp in epoch milliseconds, and have a kind drawn from
``KINDS``. The task chain abandons spam, enriches the rest, sends one
message per survivor to ``enriched_<kind>`` and commits.

The processor setups live at module level so the Python workers import
them by name (``perfbench.topics``) instead of unpickling closures.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

TOPIC = "clicks"
PARTITIONS = 8
ZIPF_S = 1.2
KINDS = ("view", "click", "purchase", "spam")
KIND_P = (0.55, 0.25, 0.12, 0.08)

#: the same message schema as DDL, for the file stream reader
DDL = ("msg_id bigint, part int, offset bigint, kind string, amount double, "
       "created_ms double")
SCHEMA = pa.schema([
    ("msg_id", pa.int64()),
    ("part", pa.int32()),
    ("offset", pa.int64()),
    ("kind", pa.string()),
    ("amount", pa.float64()),
    ("created_ms", pa.float64()),
])


# --- the task chain ----------------------------------------------------------

def drop_spam(assignment):
    def step(message, context):
        value = message["value"]
        return context.abandon if value["kind"] == "spam" else value
    return step


def enrich(assignment):
    def step(value, context):
        cents = int(round(value["amount"] * 100))
        return {"msg_id": int(value["msg_id"]), "kind": value["kind"],
                "cents": cents, "tier": "hi" if cents >= 5000 else "lo"}
    return step


def send_and_commit(assignment):
    def step(value, context):
        assignment.send({"topic": f"enriched_{value['kind']}",
                         "key": str(value["msg_id"]), "value": json.dumps(value)})
        context.commit()
        return value
    return step


def make_task():
    from frolyk_spark.tasks.task import Task

    task = Task(group="perfbench")
    src = task.source(TOPIC)
    for setup in (drop_spam, enrich, send_and_commit):
        task.processor(src, setup)
    return task


# --- the generator -------------------------------------------------------------

class Generator:
    """Seeded message source. Keeps per-partition offsets; each write
    returns the ids of its non-spam messages, the keys the task must
    produce for that file."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        weights = 1.0 / np.arange(1, PARTITIONS + 1) ** ZIPF_S
        self.part_p = weights / weights.sum()
        self.next_id = 0
        self.offsets = np.zeros(PARTITIONS, dtype=np.int64)
        self.files = 0

    def batch(self, n: int, created_ms: float) -> tuple[pa.Table, np.ndarray]:
        parts = self.rng.choice(PARTITIONS, n, p=self.part_p)
        kinds = self.rng.choice(len(KINDS), n, p=KIND_P)
        offsets = np.empty(n, dtype=np.int64)
        for p in range(PARTITIONS):
            idx = np.flatnonzero(parts == p)
            offsets[idx] = self.offsets[p] + np.arange(len(idx))
            self.offsets[p] += len(idx)
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        table = pa.table({
            "msg_id": ids,
            "part": parts.astype(np.int32),
            "offset": offsets,
            "kind": np.asarray(KINDS, dtype=object)[kinds],
            "amount": np.round(self.rng.exponential(40.0, n), 2),
            "created_ms": np.full(n, created_ms),
        }, schema=SCHEMA)
        return table, ids[kinds != KINDS.index("spam")]

    def write(self, topic_dir: str, n: int, created_ms: float) -> np.ndarray:
        """Write one file of ``n`` messages atomically; returns the ids the
        task must emit for it."""
        table, keep = self.batch(n, created_ms)
        name = f"m{self.files:06d}.parquet"
        self.files += 1
        tmp = os.path.join(topic_dir, f".{name}.tmp")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(topic_dir, name))
        return keep


def read_sink(sink_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """(msg_id, epoch) of every produced message in a task sink."""
    if not os.path.isdir(sink_dir):
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    ds = pads.dataset(sink_dir, format="parquet", partitioning="hive")
    t = ds.to_table(columns=["key", "epoch"])
    keys = np.array([int(k) for k in t.column("key").to_pylist()], dtype=np.int64)
    return keys, np.asarray(t.column("epoch").to_numpy(), dtype=np.int64)


def key_set_failures(expected: np.ndarray, got: np.ndarray) -> int:
    """Messages missing from ``got`` plus duplicates and strays in it."""
    exp = np.unique(expected)
    uniq, counts = np.unique(got, return_counts=True)
    missing = len(np.setdiff1d(exp, uniq))
    stray = len(np.setdiff1d(uniq, exp))
    dup = int((counts - 1).sum())
    return missing + stray + dup


class OpenLoop(threading.Thread):
    """Writes one file of ``per_file`` messages every ``1 / files_per_s``
    seconds from a start time on, whether or not the task keeps up. Each
    message's creation stamp is its file's due time, so a stall in the
    generator or the task shows as latency."""

    #: delay from ``start()`` to the first file's due time
    LEAD_S = 0.2

    def __init__(self, gen: Generator, topic_dir: str, *, per_file: int,
                 files_per_s: float, seconds: float):
        super().__init__(daemon=True)
        self.gen, self.topic_dir = gen, topic_dir
        self.per_file, self.period = per_file, 1.0 / files_per_s
        self.n_files = max(1, int(round(seconds * files_per_s)))
        self.due_ms: list[float] = []
        self.expected: list[np.ndarray] = []
        self.late_ms: list[float] = []
        self.written = 0
        self.error: Exception | None = None

    def run(self) -> None:
        t0 = time.time() + self.LEAD_S
        try:
            for k in range(self.n_files):
                due = t0 + k * self.period
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                self.late_ms.append(max(0.0, (time.time() - due) * 1000.0))
                self.expected.append(
                    self.gen.write(self.topic_dir, self.per_file, due * 1000.0)
                )
                self.due_ms.append(due * 1000.0)
                self.written += 1
        except Exception as exc:  # reported by the runner after join
            self.error = exc


def source_files(source_log: str, epoch: int) -> set[str]:
    """Paths of the files the file source's log lists at ``epoch``.

    ``source_log`` is a query's ``<checkpoint>/sources/0``. An epoch's
    entry is the file ``<epoch>``, except every
    ``spark.sql.streaming.fileSource.log.compactInterval`` epochs (10 by
    default), when it is ``<epoch>.compact`` and lists every file taken so
    far. The union over epochs is therefore the set of files taken.
    """
    for name in (str(epoch), f"{epoch}.compact"):
        try:
            with open(os.path.join(source_log, name)) as fh:
                return {json.loads(line)["path"] for line in fh if line.startswith("{")}
        except FileNotFoundError:
            continue
    return set()
