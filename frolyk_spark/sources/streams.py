"""File / rate stream sources (SURVEY §2 B9).

File streams are the replayable "topic" in this repo's tests (the reference
uses Kafka topics; see frolyk_spark.sources.kafka for that path). The
file-stream source lists a *directory*, so single-file tables are staged as
symlinks — no data copies. At scale the directory would be a partitioned
object-store prefix and `maxFilesPerTrigger` bounds micro-batch size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: repo-local scratch space for stream staging dirs + checkpoints
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".scratch"
)


def stage_stream_dir(sf_dir: str, table: str) -> str:
    """Directory the file-stream source can list, containing a symlink to
    the table's parquet (file sources reject bare file paths).

    Keyed on a hash of the *resolved* source path — two datasets sharing a
    basename never collide — and a stale/dangling symlink is repaired, not
    reused."""
    import hashlib

    target = os.path.realpath(os.path.join(sf_dir, f"{table}.parquet"))
    key = hashlib.md5(target.encode()).hexdigest()[:12]
    d = os.path.join(SCRATCH, "streams", f"{table}_{key}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}-0.parquet")
    if os.path.lexists(link) and os.path.realpath(link) != target:
        os.unlink(link)
    if not os.path.lexists(link):
        try:
            os.symlink(target, link)
        except FileExistsError:
            # TOCTOU with a concurrent process staging the same table:
            # both passed the lexists check, the other won the race. The
            # key embeds the resolved target, so the existing link is
            # necessarily correct — losing the race is success.
            pass
    return d


def stage_multi_file_drop(df: DataFrame, sf_dir: str, table: str,
                          salt: str, parts: int = 4) -> str:
    """Stage ``df`` as a ``parts``-file parquet drop a file stream can
    consume one file per trigger — REAL multi-batch ingest for the
    streaming operators (B17/B19). Keyed on the resolved source path +
    ``salt`` (two datasets sharing a basename never collide; two operators
    staging different splits of the same table don't either) with a
    _SUCCESS reuse check, so the write happens once per dataset — the
    operator-persisted-state rule from CLAUDE.md."""
    import hashlib
    import uuid as _uuid

    target = os.path.realpath(os.path.join(sf_dir, f"{table}.parquet"))
    # parts is part of the cache key: a caller changing the file count
    # must re-stage, not silently reuse the old batch geometry (CLAUDE.md:
    # persisted state keyed by resolved-source-path PLUS params)
    key = hashlib.md5(f"{target}:{salt}:{parts}".encode()).hexdigest()[:12]
    stage = os.path.join(SCRATCH, "streams", f"{salt}_{key}.parquet")
    if os.path.exists(os.path.join(stage, "_SUCCESS")):
        return stage
    # First-ever staging can RACE across processes (the _SUCCESS check is
    # not a lock). Each racer builds its own private dir and publishes it
    # with an atomic symlink swap — never two writers in one dir, and a
    # reader that already resolved the old link keeps its intact build
    # dir. Losers' builds leak only under concurrency, bounded by it.
    import shutil

    build = f"{stage}.build-{_uuid.uuid4().hex[:8]}"
    df.repartition(parts).write.mode("overwrite").parquet(build)
    for _attempt in range(2):
        tmp_link = f"{stage}.lnk-{_uuid.uuid4().hex[:8]}"
        os.symlink(build, tmp_link)
        try:
            os.replace(tmp_link, stage)
            return stage
        except OSError:
            os.unlink(tmp_link)
            # Only "stage exists as a real, COMPLETE dir" makes the build
            # redundant (r9 advice). An INCOMPLETE real dir (a crashed
            # pre-symlink run) is REPAIRED — removed so the complete
            # build publishes in its place on the retry — rather than
            # left to force a fresh leaked build copy on every future
            # call (r10 review). If the retry still fails (concurrent
            # repairer won, EACCES), the known-complete build dir is the
            # safe fallback.
            if os.path.exists(os.path.join(stage, "_SUCCESS")):
                return stage
            shutil.rmtree(stage, ignore_errors=True)
    return build


def stage_keyed_file_drop(df: DataFrame, sf_dir: str, table: str,
                          salt: str, parts: int, key_col: str) -> str:
    """Stage ``df`` as a ``parts``-file drop where file k holds EXACTLY
    the rows with ``key_col % parts == k`` — a CONTENT-DEFINED batch
    assignment an external oracle can reconstruct, unlike
    stage_multi_file_drop's round-robin split (fine for the
    batching-INVARIANT operators, useless for one whose output depends on
    which batch a row arrived in, like the late-data router).

    Consumption order is pinned two ways: zero-padded lexicographic file
    names AND strictly increasing mtimes (the file source processes
    oldest-first); the consuming job must still assert the contract per
    batch (content % parts == batch_id) so a listing-order change fails
    loudly instead of silently desynchronizing the oracle.

    Same persistence contract as stage_multi_file_drop: keyed on resolved
    source path + salt + parts with a _SUCCESS reuse check, built in a
    private dir and published by atomic symlink swap.
    """
    import hashlib
    import shutil
    import time as _time
    import uuid as _uuid

    target = os.path.realpath(os.path.join(sf_dir, f"{table}.parquet"))
    key = hashlib.md5(f"{target}:{salt}:{parts}:{key_col}".encode()).hexdigest()[:12]
    stage = os.path.join(SCRATCH, "streams", f"{salt}_{key}.parquet")
    if os.path.exists(os.path.join(stage, "_SUCCESS")):
        return stage
    build = f"{stage}.build-{_uuid.uuid4().hex[:8]}"
    os.makedirs(build, exist_ok=True)
    base = _time.time() - parts * 10
    for k in range(parts):
        tmp = os.path.join(build, f".tmp{k}")
        (df.where(F.expr(f"{key_col} % {parts} = {k}"))
           .coalesce(1).write.mode("overwrite").parquet(tmp))
        part = next(f for f in os.listdir(tmp)
                    if f.endswith(".parquet") and not f.startswith("."))
        os.replace(os.path.join(tmp, part), os.path.join(build, f"{k:04d}.parquet"))
        shutil.rmtree(tmp, ignore_errors=True)
        os.utime(os.path.join(build, f"{k:04d}.parquet"), (base + k * 10, base + k * 10))
    open(os.path.join(build, "_SUCCESS"), "w").close()
    for _attempt in range(2):
        tmp_link = f"{stage}.lnk-{_uuid.uuid4().hex[:8]}"
        os.symlink(build, tmp_link)
        try:
            os.replace(tmp_link, stage)
            return stage
        except OSError:
            os.unlink(tmp_link)
            if os.path.exists(os.path.join(stage, "_SUCCESS")):
                return stage
            shutil.rmtree(stage, ignore_errors=True)
    return build


def file_stream(
    spark: SparkSession,
    path: str,
    schema,
    *,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Schema-pinned file stream (streaming sources can't infer schemas)."""
    reader = spark.readStream.schema(schema)
    # `is not None`, not truthiness: an explicit 0 must reach Spark (which
    # rejects it loudly) instead of silently becoming "unthrottled"
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.format(fmt).load(path)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming view of the events table, normalized through the SAME
    helper as the batch catalog (catalog.normalize_events_ts) so streaming
    results hash-match batch oracles by construction."""
    from frolyk_spark.sources.catalog import normalize_events_ts, read_parquet

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = read_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema
    stream = file_stream(spark, stage_stream_dir(sf_dir, "events"), raw_schema)
    return normalize_events_ts(stream)


def rate_stream(spark: SparkSession, rows_per_second: int = 10, num_partitions: int = 1) -> DataFrame:
    """Synthetic load source (timestamp, value) — useful for backpressure
    and latency experiments without any storage."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .option("numPartitions", str(num_partitions))
        .load()
    )
