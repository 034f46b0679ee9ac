"""Checks of the benchmark's own counting.

The benchmark counts jobs by job-id range, so a job that a foreachBatch
body launches on the streaming query's thread is counted; a job group
set on the caller's thread does not see it. The live phase's file lag
reads the file source's log, which Spark compacts every ten epochs.

    python3 -m pytest perfbench/test_counting.py -q
"""

from __future__ import annotations

import os

import pytest

from perfbench.probe import SparkCounters
from perfbench.topics import source_files


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-test")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false").getOrCreate())
    yield s
    s.stop()


def test_foreach_batch_job_is_counted(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    schema = spark.read.parquet(src).schema
    sc = spark.sparkContext
    counters = SparkCounters(spark)
    seen = []

    def body(batch_df, epoch_id):
        seen.append(batch_df.count())  # a job on the stream thread

    sc.setJobGroup("caller", "jobs of the calling thread")
    try:
        j0 = counters.next_job_id()
        q = (spark.readStream.schema(schema).parquet(src).writeStream
             .foreachBatch(body).trigger(availableNow=True)
             .option("checkpointLocation", str(tmp_path / "ckpt")).start())
        q.awaitTermination(120)
        j1 = counters.next_job_id()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert seen == [10]
    totals = counters.jobs(j0, j1)
    assert totals["jobs"] == j1 - j0 >= 1
    assert totals["missing_jobs"] == 0
    assert totals["tasks"] >= 1
    in_group = [j for j in sc.statusTracker().getJobIdsForGroup("caller") if j0 <= j < j1]
    # the body's count job ran in the stream's own job group, so the
    # caller's group misses at least that one job
    assert len(in_group) < totals["jobs"]


def test_source_files_counts_across_log_compaction(spark, tmp_path):
    """Twelve one-file epochs: epoch 9's source-log entry is the compact
    file ``9.compact``, and every file must still count as taken."""
    src = tmp_path / "src"
    for i in range(12):
        spark.range(i, i + 1, numPartitions=1).write.parquet(str(src / f"f{i:02d}"))
    files = sorted(str(p) for p in src.glob("f*/*.parquet"))
    flat = tmp_path / "flat"
    flat.mkdir()
    for i, f in enumerate(files):
        os.rename(f, flat / f"f{i:02d}.parquet")
    ckpt = tmp_path / "ckpt"
    source_log = str(ckpt / "sources" / "0")
    taken: set[str] = set()
    per_epoch = []

    def body(batch_df, epoch_id):
        got = source_files(source_log, epoch_id)
        per_epoch.append(len(got))
        taken.update(got)

    q = (spark.readStream.schema("id bigint").option("maxFilesPerTrigger", 1)
         .parquet(str(flat)).writeStream.foreachBatch(body)
         .trigger(availableNow=True).option("checkpointLocation", str(ckpt)).start())
    q.awaitTermination(120)
    assert os.path.exists(os.path.join(source_log, "9.compact"))
    assert len(per_epoch) == 12 and per_epoch[9] == 10
    assert {os.path.basename(p) for p in taken} == {f"f{i:02d}.parquet" for i in range(12)}
