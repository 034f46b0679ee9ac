#!/usr/bin/env python3
"""The repository benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload batch_ops --seed 1 --seconds 12 --trace 0

Workloads: ``batch_ops``, ``stream_jobs``, ``task_topics`` (see
``perfbench/README.md``). Each run starts from an empty program scratch
(``.scratch/``) and its own work directory (``.bench_run/``: generated
tables, Spark local dir, temp files, topics, trace output), starts one
SparkSession on ``local[<cores>]`` through ``frolyk_spark.session``,
warms up untimed, then measures for ``--seconds`` and checks every output.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, and the spans are
written to ``.bench_run/trace/``. Human-readable lines go to stderr.
Exits 2 without a result when the repository is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("batch_ops", "stream_jobs", "task_topics")
#: the driver JVM's fixed heap (see ``prepare``)
DRIVER_MEM = "1g"
MACHINERY = ("walCommit", "commitOffsets", "latestOffset", "getBatch", "queryPlanning")


def metric_units(root: str) -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def process_start_wall() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        after_comm = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(after_comm[19])  # field 22 of stat(5)
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare(root: str) -> dict[str, str]:
    """Empty the program scratch and the run's work dir; point Spark's
    local dir, the JVM temp dir and Python's temp dir inside the work dir;
    put the repo on the Python workers' path.

    Two JVM settings differ from the program's own, so every figure is
    one of this configuration:

    - The driver JVM runs with the C1 JIT only (``TieredStopAtLevel=1``).
      With the default tiered JIT, key times at this scale keep falling
      for four or five passes (C2 recompiling planner and generated code),
      so a run short enough to repeat would time a point on the warm-up
      curve. With C1 the times are flat from the second pass on, about
      25% above the C2 floor.
    - The heap is fixed at ``DRIVER_MEM`` (``-Xms`` = ``-Xmx``, where the
      program defaults to a growing heap of up to 8 GB), because a growing
      heap made peak RSS depend on when the collector ran. The setting
      overrides any ``SPARK_GRAFT_DRIVER_MEM`` in the caller's environment.

    ``-XX:-UsePerfData`` keeps the JVM from writing its perf-data file
    outside the checkout."""
    work = os.path.join(root, ".bench_run")
    shutil.rmtree(os.path.join(root, ".scratch"), ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    paths = {name: os.path.join(work, name)
             for name in ("data", "spark-local", "tmp", "warehouse", "trace")}
    for p in paths.values():
        os.makedirs(p)
    paths["work"] = work
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = paths["spark-local"]
    os.environ["TMPDIR"] = paths["tmp"]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    java_opts = (f"-Djava.io.tmpdir={paths['tmp']} -XX:TieredStopAtLevel=1 "
                 f"-XX:-UsePerfData -Xms{DRIVER_MEM}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{java_opts}" pyspark-shell'
    return paths


def start_spark(paths: dict[str, str]):
    from pyspark.sql import SparkSession

    # options set on the shared builder before get_spark() builds on it
    SparkSession.builder.config("spark.sql.warehouse.dir", paths["warehouse"]).config(
        "spark.ui.showConsoleProgress", "false")
    from frolyk_spark.session import get_spark

    return get_spark("perfbench")


def stop_spark() -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if SparkSession._instantiatedSession is not None:
        SparkSession._instantiatedSession.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


# --- metrics -------------------------------------------------------------------

def key_e2e(run) -> dict:
    """wall_s: median untraced pass; call_p50_s: the median over keys of
    each key's median call time (a pooled median of a few calls of a few
    keys would land between two keys' clusters)."""
    from perfbench.probe import median

    plain = [p for p in run.passes if not p["traced"]]
    per_key: dict[str, list[float]] = {}
    for p in plain:
        for c in p["calls"]:
            if c["ok"]:
                per_key.setdefault(c["key"], []).append(c["wall_s"])
    return {"wall_s": median([p["wall_s"] for p in plain]),
            "call_p50_s": median([median(v) for v in per_key.values()])}


def layer_metrics(recs, windows, n: int, tracer, listener) -> dict:
    """Per-layer numbers over the traced sections ``recs`` (key calls, or
    drains and the live phase), which ran inside ``windows``; totals are
    divided by ``n``, the number of traced passes."""
    from perfbench.probe import STAGE_FIELDS, median, pct, self_times, union_s

    def inside(t: float) -> bool:
        return any(a <= t <= z for a, z in windows)

    lay: dict[str, float] = {}
    for f in STAGE_FIELDS:
        name = "sources.input_bytes" if f == "input_bytes" else f"spark.{f}"
        lay[name] = sum(r["spark"][f] for r in recs) / n
    jobs = sum(r["jobs"] for r in recs)
    lay["spark.jobs"] = jobs / n
    # jobs in a section's id range that the status store no longer held:
    # stage, task and byte totals miss them (0 when counting is complete)
    lay["spark.jobs_missing"] = sum(r["spark"]["missing_jobs"] for r in recs)
    lay["spark.job_span_s"] = sum(union_s(r["spark"]["spans"]) for r in recs) / n
    calls = [r for r in recs if "call_s" in r]
    driver = []
    for c in calls:
        w0, w1 = c["window"]
        driver.append(c["wall_s"] - union_s(
            (max(a, w0), min(b, w1)) for a, b in c["spark"]["spans"] if min(b, w1) > max(a, w0)))
    lay["operators.call_s"] = median([c["call_s"] for c in calls])
    lay["operators.force_s"] = median([c["force_s"] for c in calls])
    lay["operators.driver_s"] = median(driver)

    spans = [s for s in tracer.spans if inside(s["start"])]
    by_id = {s["id"]: s for s in spans}
    loops = [s for s in spans if s["layer"] == "loops"]
    cuts = [s for s in spans if s["layer"] == "lineage"]
    # each loop cuts its partitioned edge table once, then once per round
    rounds = max(sum(1 for s in cuts if by_id.get(s["parent"], {}).get("layer") == "loops")
                 - len(loops), 0)
    lay.update({
        "loops.loops": len(loops) / n,
        "loops.loop_s": sum(s["end"] - s["start"] for s in loops) / n,
        "loops.rounds": rounds / n,
        "loops.jobs_per_round": sum(s["jobs"] for s in loops) / rounds if rounds else 0.0,
        "lineage.cuts": len(cuts) / n,
        "lineage.cut_s": sum(s["end"] - s["start"] for s in cuts) / n,
    })
    own = self_times(spans)
    for layer in ("operators", "sources", "loops", "lineage", "streaming", "tasks"):
        lay[f"self.{layer}_s"] = own.get(layer, 0.0) / n

    batches = [b for b in listener.batches if inside(b["t"])]
    trig = [b["dur"].get("triggerExecution", 0) for b in batches]
    last_state: dict[str, tuple[int, int]] = {}
    for b in batches:
        last_state[b["query"]] = (b["state_rows"], b["state_mem"])
    lay.update({
        "streaming.run_s": sum(trig) / 1000.0 / n,
        "streaming.batches": len(batches) / n,
        "streaming.batch_p50_ms": median(trig),
        "streaming.batch_p90_ms": pct(trig, 0.9),
        "streaming.body_ms": median([b["dur"].get("addBatch", 0) for b in batches]),
        "streaming.machinery_ms": median(
            [sum(b["dur"].get(k, 0) for k in MACHINERY) for b in batches]),
        "streaming.jobs_per_batch": jobs / len(batches) if batches else 0.0,
        "streaming.state_rows": sum(r for r, _ in last_state.values()) / n,
        "streaming.state_mem_bytes": sum(m for _, m in last_state.values()) / n,
    })
    return lay


# --- the workloads -----------------------------------------------------------------

def run_keys(args, run, goldens) -> tuple[dict, dict]:
    """batch_ops / stream_jobs: warm pass, then timed passes."""
    from perfbench import workloads
    from perfbench.probe import median

    # untimed warm pass: codegen, JIT, Python workers and the one-time
    # persisted-state builds land here, and so in setup_s
    run.log("warm pass (untimed)")
    run.pass_over(workloads.KEYS[args.workload], goldens, timed=False)
    if run.tracer is not None:
        run.control()  # warms the control key, untimed
    run.setup_done = time.time()
    workloads.measure_keys(run, args.workload, goldens, args.seconds)
    e2e = key_e2e(run)
    if run.tracer is None:
        return e2e, {}
    traced = [p for p in run.passes if p["traced"]]
    calls = [c for p in traced for c in p["calls"] if c["ok"]]
    lay = layer_metrics(calls, [(p["t0"], p["t1"]) for p in traced], len(traced),
                        run.tracer, run.listener)
    lay["trace.overhead_s"] = median([p["wall_s"] for p in traced]) - e2e["wall_s"]
    return e2e, lay


def run_topics(args, run) -> tuple[dict, dict]:
    """task_topics: staged backlog, warm drains, timed drains, live phase."""
    from perfbench import workloads
    from perfbench.probe import median, pct

    tt = workloads.TaskTopics(run)
    stage_s = tt.stage()
    run.log("warm drains (untimed)")
    for _ in range(workloads.WARM_DRAINS):
        tt.verify_drain(tt.drain(timed=False))
    if run.tracer is not None:
        run.control()  # warms the control key, untimed
    run.setup_done = time.time()
    order = (False,) if run.tracer is None else workloads.TRACE_ORDER
    for i in range(max(workloads.MIN_DRAINS, len(order))):
        if run.tracer is not None:
            run.tracer.enabled = order[i % len(order)]
        tt.drains.append(tt.drain(timed=True))
    if run.tracer is not None:
        run.tracer.enabled = True
    live = tt.live_phase(args.seconds)
    if run.tracer is not None:
        run.tracer.enabled = False
    for d in tt.drains:
        tt.verify_drain(d)
    lat_ms = tt.verify_live(live)
    plain = [d for d in tt.drains if not d["traced"]]
    e2e = {"wall_s": median([d["wall_s"] for d in plain]),
           "call_p50_s": median(lat_ms) / 1000.0}
    if run.tracer is None:
        return e2e, {}
    traced = [d for d in tt.drains if d["traced"]]
    recs = traced + [live]
    lay = layer_metrics(recs, [(r["t0"], r["t1"]) for r in recs], 1, run.tracer, run.listener)
    starts = [s for s in run.tracer.spans if s["name"].endswith("start_files")]
    live_batches = [b for b in run.listener.batches if live["t0"] <= b["t"] <= live["t1"]]
    msgs_in = sum(r["msgs"] for r in recs)
    produced = sum(r["produced"] for r in recs)
    lay.update({
        "sources.stage_s": stage_s,
        "sources.lag_files": max(live["lag_files"], default=0),
        "tasks.start_s": median([s["end"] - s["start"] for s in starts]),
        "tasks.epochs": live["epochs"],
        "tasks.epoch_p50_ms": median(
            [b["dur"].get("triggerExecution", 0) for b in live_batches]),
        "tasks.jobs_per_epoch": live["jobs"] / live["epochs"] if live["epochs"] else 0.0,
        "tasks.msgs_in": msgs_in,
        "tasks.msgs_produced": produced,
        "tasks.keep_ratio": produced / msgs_in if msgs_in else 0.0,
        "tasks.msgs_per_s": median([d["msgs"] / d["wall_s"] for d in traced]),
        "tasks.lat_p50_ms": median(lat_ms),
        "tasks.lat_p90_ms": pct(lat_ms, 0.9),
        "tasks.gen_late_ms": pct(live["late_ms"], 0.9),
        "trace.overhead_s": median([d["wall_s"] for d in traced]) - e2e["wall_s"],
    })
    return e2e, lay


def local1_baseline(run, paths) -> float:
    """Single-thread baseline: one task_topics drain on local[1]."""
    from perfbench import probe, workloads

    run.spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    run.spark = start_spark(paths)
    run.counters = probe.SparkCounters(run.spark)
    run.tracer = None
    tt = workloads.TaskTopics(run, "topics_local1")
    tt.stage()
    tt.drain(timed=False)
    d = tt.drain(timed=True)
    tt.verify_drain(d)
    return d["msgs"] / d["wall_s"]


def run_workload(args, paths: dict, t_start: float) -> dict:
    from perfbench import datagen, probe, workloads

    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens.json")) as fh:
        goldens = json.load(fh)["keys"]
    t0 = time.monotonic()
    datagen.write_tables(paths["data"], workloads.DATA_SF, workloads.DATA_SEED)
    tables_s = time.monotonic() - t0
    t0 = time.monotonic()
    spark = start_spark(paths)
    session_s = time.monotonic() - t0
    log(f"tables {tables_s:.2f}s, session {session_s:.2f}s")
    try:
        tracer = None
        if args.trace:
            tracer = probe.Tracer(probe.SparkCounters(spark), f"{args.workload}-{args.seed}")
            tracer.install()
        listener = probe.StreamProbe(spark) if args.trace else None
        run = workloads.Run(spark, paths["work"], paths["data"], args.seed,
                            tracer, listener, log)
        if args.workload == "task_topics":
            e2e, lay = run_topics(args, run)
        else:
            e2e, lay = run_keys(args, run, goldens)
        e2e["setup_s"] = run.setup_done - t_start
        e2e["peak_rss_mb"] = probe.peak_rss_mb(spark)
        if args.trace:
            lay["host.control_s"] = run.control()
            lay["host.loadavg"] = os.getloadavg()[0]
            lay["session.start_s"] = session_s
            lay["sources.stage_s"] = lay.get("sources.stage_s", 0.0) + tables_s
            run.listener.close()
            tracer.uninstall()
            if args.workload == "task_topics":
                lay["tasks.local1_msgs_per_s"] = local1_baseline(run, paths)
            lay["error_rate"] = run.failed / max(run.attempted, 1)
            tracer.dump(os.path.join(paths["trace"], "spans.jsonl"))
            with open(os.path.join(paths["trace"], "layers.json"), "w") as fh:
                json.dump({"e2e": e2e, "layers": lay, "failures": run.failures}, fh, indent=1)
        return {"e2e": e2e, "layers": lay, "attempted": run.attempted, "failed": run.failed}
    finally:
        stop_spark()


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = process_start_wall()
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "frolyk_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        log("run from the repository root: frolyk_spark/ or __spark_entry__.py is missing")
        return 2
    e2e_units, layer_units = metric_units(root)
    paths = prepare(root)
    sys.path.insert(0, root)
    res = run_workload(args, paths, t_start)
    attempted, failed = res["attempted"], res["failed"]
    log(f"{args.workload} seed={args.seed} trace={args.trace}: "
        f"attempted={attempted} failed={failed} error_rate={failed / max(attempted, 1):.4f}")
    for k, unit in e2e_units.items():
        log(f"  {k:<28} {res['e2e'][k]:>16.4f} {unit}")
    if args.trace:
        units = layer_units
        values = {k: res["layers"].get(k, 0.0) for k in units}
        for k, unit in units.items():
            log(f"  {k:<28} {values[k]:>16.4f} {unit}")
    else:
        units, values = e2e_units, res["e2e"]
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
