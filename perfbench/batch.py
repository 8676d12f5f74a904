"""The batch workload: a cold pass and then warm passes over a query mix.

Closed loop, one client.  Set-up launches the JVM once and then
restarts the session ``SETUP_RESTARTS`` times; ``setup_s`` is the median
restart.  Each query call is ``fn(spark, data_dir)`` from
``plans.registry.queries()`` followed by a noop write, the timed action.
The cold pass runs in a fresh session with an empty build cache.  Warm
passes follow in the same session: one that is checked and not timed,
then measured passes for the run's ``--seconds`` (at least
``MIN_MEASURED_PASSES``).  Unlike ``bench.py`` the benchmark never calls
``clearCache()``: persistent RDDs a query leaves behind are counted and
stay, as they would in a long-lived application.

Outputs are checked against the committed DuckDB-oracle digests in the
first warm pass, outside the timed region.  A call that raises or
returns a wrong result counts as failed.
"""

from __future__ import annotations

import gc
import random
import statistics
import time
import traceback

import mixes
import oracle
import tracing
from measure import percentile, persistent_rdds

from stedi_human_balance_redis_kafka_spark_streaming_spark.plans import registry

# Session restarts after the JVM launch.  A restart takes about 0.3 s and
# shortens as the JVM warms up, so one sample per run would not be steady.
SETUP_RESTARTS = 5
# Warm passes still speed up for the first three or four as the JIT
# compiles the query paths (about 5.2, 4.5, 4.1, then 3.7-4.2 s on four
# cores).  The first is not measured; at least three are, and in the
# run's ten seconds rarely more, so the median is the same pass of that
# curve on a slow host and on a fast one.  ``heap_retained_mb`` is taken
# over the cold pass and the untimed one, a fixed amount of work: every
# ``ann_mmr_topk`` call leaks, so later passes would make it depend on
# how many passes fit in ``--seconds``.
MIN_MEASURED_PASSES = 3


def query_order(mix: list[str], seed: int) -> list[str]:
    """The seed's order of the mix, used by every pass of a run."""
    order = list(mix)
    random.Random(seed).shuffle(order)
    return order


class Pass:
    """One pass over the mix: per-call records, and the pass's time."""

    def __init__(self) -> None:
        self.calls: list[dict] = []

    @property
    def seconds(self) -> float:
        return sum(c["call_s"] + c["action_s"] for c in self.calls)


def run_call(session, name, fn, data_dir, op, tracer, expected=None) -> dict:
    spark = session.spark
    sc = spark.sparkContext
    before = persistent_rdds(spark)
    rec = {"query": name, "op": op, "ok": False, "call_s": 0.0, "action_s": 0.0}
    try:
        with tracer.span("plans.call", op=op, query=name):
            if tracer.enabled:
                sc.setJobGroup(f"{op}/call", name)
            t0 = time.perf_counter()
            df = fn(spark, data_dir)
            t1 = time.perf_counter()
        with tracer.span("spark.action", op=op, query=name):
            if tracer.enabled:
                sc.setJobGroup(f"{op}/action", name)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        rec.update(call_s=t1 - t0, action_s=t2 - t1)
        if expected is not None:
            if tracer.enabled:
                sc.setJobGroup(f"{op}/check", name)
            if not oracle.matches(expected, oracle.digest(df.toPandas())):
                raise ValueError(f"{name} output differs from its oracle")
        rec["ok"] = True
        del df
    except Exception:
        traceback.print_exc()
    finally:
        if tracer.enabled:
            sc.setJobGroup("perfbench/idle", "")
    gc.collect()
    rec["leaked_rdds"] = len(persistent_rdds(spark) - before)
    rec["heap_mb"] = session.live_heap_mb()
    return rec


def run_pass(session, order, data_dir, label, tracer, expected=None) -> Pass:
    queries = registry.queries()
    p = Pass()
    with tracer.span("pass", op=label):
        for name in order:
            p.calls.append(run_call(
                session, name, queries[name], data_dir, f"{label}:{name}", tracer,
                expected["queries"][name] if expected else None,
            ))
    return p


def run(session, data_dir, fingerprint, args, run_dir) -> dict:
    expected = oracle.load()
    if expected["data_fingerprint"] != fingerprint:
        raise SystemExit("perfbench: generated data differs from oracle_digests.json; "
                         "regenerate it with python3 perfbench/oracle.py")
    tracer = tracing.Tracer(bool(args.trace))
    order = query_order(mixes.ITERATIVE, args.seed)

    for _ in range(1 + SETUP_RESTARTS):
        with tracer.span("session.start"):
            session.start()

    cold = run_pass(session, order, data_dir, "cold", tracer)
    checked = run_pass(session, order, data_dir, "warm0", tracer, expected)
    t0 = time.perf_counter()
    warm: list[Pass] = []
    while (len(warm) < MIN_MEASURED_PASSES
           or time.perf_counter() - t0 + warm[-1].seconds <= args.seconds):
        warm.append(run_pass(session, order, data_dir, f"warm{1 + len(warm)}", tracer))

    calls = [c for p in [cold, checked, *warm] for c in p.calls]
    lat_ms = [1e3 * (c["call_s"] + c["action_s"]) for p in warm for c in p.calls if c["ok"]]
    e2e = {
        "setup_s": statistics.median(session.starts[1:]),
        "cold_s": cold.seconds,
        "warm_s": statistics.median(p.seconds for p in warm),
        "latency_p50_ms": percentile(lat_ms, 50),
        "latency_p90_ms": percentile(lat_ms, 90),
        "heap_retained_mb": max(c["heap_mb"] for p in [cold, checked] for c in p.calls),
    }

    def layers_after_stop(log_dir: str) -> dict:
        return batch_layers(cold, checked, warm[0], log_dir)

    return {
        "e2e": e2e,
        "attempted": len(calls),
        "failed": sum(not c["ok"] for c in calls),
        "tracer": tracer,
        "layers_after_stop": layers_after_stop,
    }


def pass_layers(p: Pass, log: dict) -> dict:
    """Where one pass's time went: query function vs final action."""
    eager_jobs = action_jobs = 0
    eager_s = 0.0
    groups = set()
    for c in p.calls:
        ej = tracing.jobs_in(log, f"{c['op']}/call")
        eager_jobs += len(ej)
        action_jobs += len(tracing.jobs_in(log, f"{c['op']}/action"))
        eager_s += tracing.jobs_s(ej)
        groups |= {f"{c['op']}/call", f"{c['op']}/action"}
    call_s = sum(c["call_s"] for c in p.calls)
    return {
        "plans.calls": len(p.calls),
        "plans.call_s": call_s,
        "plans.eager_jobs": eager_jobs,
        "plans.eager_s": eager_s,
        "plans.construct_s": max(call_s - eager_s, 0.0),
        "spark.action_s": sum(c["action_s"] for c in p.calls),
        "spark.action_jobs": action_jobs,
        **tracing.task_totals(log, groups),
    }


def batch_layers(cold: Pass, first_warm: Pass, measured: Pass, log_dir: str) -> dict:
    """Per-layer numbers: plans and spark over the first measured warm
    pass, the cold pass's own split under ``*.cold_*``, and leaks over the
    cold and the first warm pass."""
    log = tracing.read_event_logs(log_dir)
    c = pass_layers(cold, log)
    return {
        **pass_layers(measured, log),
        "plans.cold_call_s": c["plans.call_s"],
        "plans.cold_eager_s": c["plans.eager_s"],
        "plans.cold_eager_jobs": c["plans.eager_jobs"],
        "spark.cold_action_s": c["spark.action_s"],
        "session.leaked_rdds": sum(x["leaked_rdds"] for x in cold.calls + first_warm.calls),
    }
