"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Workloads (see BENCHMARK.json for why each
one is there):

* ``stream_risk_join`` -- the reference stream, ``customer_risk_stream``
  in unbounded mode, from a file source to a parquet sink (stream.py);
* ``batch_iterative`` -- a cold pass and then warm passes over a mix of
  registered queries (batch.py).

The inputs are made from the seed and a fixed data generator
(datagen.py); the engine is driven only through its public entry points.
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, and the spans plus
the traced run's own end-to-end values go to
``.perfbench/trace/<workload>-<seed>.json``.  A per-layer metric of a
layer the workload does not run (the stream's layers on the batch
workload) reads 0 and is named under ``not_run`` in the environment line
and the trace file.  All files the benchmark writes live under
``.perfbench/`` at the repository root.

End-to-end metrics, per workload:

* ``setup_s`` -- batch: median of the session restarts after the JVM
  launch, each followed by one trivial job; stream: median of three
  set-ups, each a session start (the first launches the JVM) plus the
  input staging;
* ``cold_s`` -- batch: the first pass over the mix, in a fresh session
  with an empty build cache; stream: query start until the backlog batch
  commits, in fresh sessions after the first (which also warms the JIT);
* ``warm_s`` -- batch: median pass over the mix in the same session,
  after one untimed pass, the measured passes filling ``--seconds``
  (at least three); stream: median micro-batch duration over
  the ``--seconds`` measured live phase;
* ``latency_p50_ms`` / ``latency_p90_ms`` -- batch: per query call in the
  measured warm passes; stream: per live file, from when it was due to
  land to the commit of the micro-batch that read it;
* ``heap_retained_mb`` -- live objects on the JVM heap, as counted by a
  full garbage collection: batch, the most after any query call (its
  result dropped) of the cold and the untimed warm pass; stream, after
  the run.  This is what the engine keeps alive: cached blocks, leaked
  RDDs, state, driver-side bookkeeping.  The peak resident memory of the
  driver plus its JVM is reported per layer (``session.peak_rss_mb``); it
  moves with the collector's heap sizing from run to run, too much for a
  bound.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "3g"

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "heap_retained_mb": "MB",
}

PER_LAYER = {
    "session.jvm_launch_s": "s",
    "session.start_s": "s",
    "session.leaked_rdds": "count",
    "session.peak_rss_mb": "MB",
    "plans.calls": "count",
    "plans.call_s": "s",
    "plans.eager_jobs": "count",
    "plans.eager_s": "s",
    "plans.construct_s": "s",
    "plans.cold_call_s": "s",
    "plans.cold_eager_s": "s",
    "plans.cold_eager_jobs": "count",
    "spark.action_s": "s",
    "spark.cold_action_s": "s",
    "spark.action_jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "buildcache.lookups": "count",
    "buildcache.hits": "count",
    "buildcache.stores": "count",
    "buildcache.hit_share": "ratio",
    "buildcache.bytes": "bytes",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_rows_updated": "count",
    "sources.lag_files_max": "count",
    "gen.late_ms_max": "ms",
    "pipeline.customers_decode_s": "s",
    "pipeline.risk_parse_s": "s",
    "joins.join_format_s": "s",
}


def pin_environment() -> int:
    """Pin cores, scratch and temp dirs to the checkout before Spark starts.

    The engine's default is 32 cores whatever the host has, which on a
    small host inflates every micro-batch several times; the benchmark
    uses exactly the cores the process may run on.
    """
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_BUILDCACHE_DIR": os.path.join(WORK, "buildcache"),
        "TMPDIR": tmp,
        # -UsePerfData: no hsperfdata file in the system temp dir.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    import tempfile

    tempfile.tempdir = None
    return cpus


def _cgroup_caps() -> dict:
    caps = {}
    for name in (
        "/sys/fs/cgroup/cpu.max",
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/cpu/cpu.cfs_quota_us",
        "/sys/fs/cgroup/cpu/cpu.cfs_period_us",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(name) as f:
                caps[name.rsplit("/", 1)[-1]] = f.read().strip()
        except OSError:
            pass
    return caps


def environment(spark, args, cpus: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": DRIVER_MEMORY,
        "cgroup": _cgroup_caps(),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cpus = pin_environment()
    sys.path.insert(0, ROOT)
    from measure import Session, cpu_ticks, vm_hwm_mb

    ticks0 = cpu_ticks()
    import batch
    import datagen
    import stream
    import tracing

    workloads = {"stream_risk_join": stream.run, "batch_iterative": batch.run}
    if args.workload not in workloads:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(workloads)}")
    data_dir, fingerprint = datagen.ensure(os.path.join(WORK, "data"))
    # Every run starts with an empty build cache.
    cache_dir = os.environ["SPARK_GRAFT_BUILDCACHE_DIR"]
    shutil.rmtree(cache_dir, ignore_errors=True)

    extra_conf = {"spark.ui.showConsoleProgress": "false"}
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    log_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    if args.trace:
        extra_conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    session = Session(cpus, extra_conf)
    counter = None
    if args.trace:
        from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import buildcache

        counter = tracing.BuildCacheCounter(buildcache)
    try:
        out = workloads[args.workload](session, data_dir, fingerprint, args, run_dir)
        if counter is not None:
            counter.restore()
        env = environment(session.spark, args, cpus)
        ticks1 = cpu_ticks()
        # Time stolen by other guests of the host: slow runs show it here.
        env["cpu_steal_share"] = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
        e2e = out["e2e"]
        peak_rss_mb = vm_hwm_mb() + vm_hwm_mb(session.jvm_pid())
    finally:
        session.close()
    try:
        layers = out["layers_after_stop"](log_dir) if args.trace else {}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        layers.update(counter.layers(cache_dir))
        layers["session.jvm_launch_s"] = session.starts[0]
        layers["session.peak_rss_mb"] = peak_rss_mb
        layers["session.start_s"] = statistics.median(session.starts[1:])
        env["not_run"] = [k for k in PER_LAYER if k not in layers]
        out["tracer"].dump(
            os.path.join(WORK, "trace", f"{args.workload}-{args.seed}.json"),
            {"env": env, "end_to_end": e2e, "per_layer": layers},
        )
        metrics = {k: {"value": layers.get(k, 0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"env": env}), flush=True)
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
