"""The reference stream as a workload: ``customer_risk_stream`` (unbounded).

Open loop, one generator thread.  The engine's own synthesis
(``plans.synthetic``) turns the customer and events tables into the
reference's wire payloads: Redis-CDC envelopes and risk-event JSON.  The
run has two phases.

* Catch-up: every customer envelope and a seed-chosen share of the events
  are staged before the query starts.  Like the reference's
  ``startingOffsets=earliest`` with no per-trigger cap, the backlog drains
  in one micro-batch.  ``cold_s`` is the time from query start until that
  batch commits, in a fresh session, staging and checkpoint each time:
  the median over the run's set-ups after the first, which also pays the
  JVM's JIT warm-up.
* Live: the generator lands seed-shuffled event files of
  ``LIVE_FILE_ROWS`` rows every ``LIVE_INTERVAL_S`` seconds by atomic
  rename, on a schedule that does not wait for the engine, for
  ``LIVE_WARMUP_S`` plus the run's ``--seconds``; the files and batches of
  the last ``--seconds`` are measured.  A file's latency runs from when it
  was due to the commit of the micro-batch that read it.  Which batch read
  which file comes from the file source's log in the checkpoint; when a
  batch committed comes from the query's progress (``timestamp`` plus
  ``triggerExecution``).

The run is correct when the parquet sink holds exactly the rows the batch
form of the same join gives over every file that was landed.

Not exercised: ``mode="watermarked"`` (it fails at plan build, because
the risk and customer streams never derive ``riskTime`` and
``customerTime``), the Kafka source and the Redis sink (no connector jar,
no redis client).
"""

from __future__ import annotations

import datetime as dt
import gc
import json
import os
import random
import statistics
import sys
import threading
import time
import traceback

import pyarrow as pa
import pyarrow.parquet as pq

import tracing
from measure import SETUP_SAMPLES, percentile, persistent_rdds

from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import joins
from stedi_human_balance_redis_kafka_spark_streaming_spark.plans import synthetic
from stedi_human_balance_redis_kafka_spark_streaming_spark.streaming import queries

LIVE_INTERVAL_S = 0.1
LIVE_FILE_ROWS = 50
# The first seconds of the live phase run the small-batch path while the
# JIT still compiles it (batches shrink from ~1.2 s to ~0.85 s); they are
# checked but not measured.
LIVE_WARMUP_S = 5.0
BACKLOG_FILES = 4
BACKLOG_SHARE = (0.2, 0.3)
CATCHUP_TIMEOUT_S = 60
DRAIN_TIMEOUT_S = 30
VALUE_SCHEMA = "value string"


def split_events(payloads: list[str], seed: int, n_live: int):
    """Seeded split of the event payloads: (backlog rows, live files).

    The payloads are sorted first, so the split depends only on their
    content and the seed, not on the order Spark returned them in.
    """
    rng = random.Random(seed)
    rows = sorted(payloads)
    rng.shuffle(rows)
    n_backlog = int(len(rows) * rng.uniform(*BACKLOG_SHARE))
    rest = rows[n_backlog:]
    if n_live * LIVE_FILE_ROWS > len(rest):
        raise ValueError(f"{n_live} live files need more than {len(rest)} events")
    live = [rest[i * LIVE_FILE_ROWS:(i + 1) * LIVE_FILE_ROWS] for i in range(n_live)]
    return rows[:n_backlog], live


def live_schedule(n_files: int, t0: float) -> list[float]:
    """When each live file is due to land, ``t0`` being the live start."""
    return [t0 + (i + 1) * LIVE_INTERVAL_S for i in range(n_files)]


def _chunks(rows: list, n: int) -> list[list]:
    size = -(-len(rows) // n)
    return [rows[i:i + size] for i in range(0, len(rows), size)]


def _write(path: str, rows: list[str]) -> None:
    pq.write_table(pa.table({"value": pa.array(rows, pa.string())}), path)


class Staged:
    """The files of one staging: source dirs, backlog and pending live files."""

    def __init__(self, root: str) -> None:
        self.customers = os.path.join(root, "customers")
        self.events = os.path.join(root, "events")
        self.pending = os.path.join(root, "pending")
        self.checkpoint = os.path.join(root, "checkpoint")
        self.out = os.path.join(root, "out")
        for d in (self.customers, self.events, self.pending):
            os.makedirs(d)
        self.backlog_files: list[str] = []
        self.live_files: list[str] = []


def stage(spark, data_dir: str, root: str, seed: int, n_live: int) -> Staged:
    s = Staged(root)
    cust = synthetic.redis_envelope_raw(spark, data_dir).toPandas()["value"].tolist()
    events = synthetic.stedi_events_raw(spark, data_dir).toPandas()["value"].tolist()
    for i, chunk in enumerate(_chunks(sorted(cust), BACKLOG_FILES)):
        _write(os.path.join(s.customers, f"customers-{i}.parquet"), chunk)
    backlog, live = split_events(events, seed, n_live)
    for i, chunk in enumerate(_chunks(backlog, BACKLOG_FILES)):
        path = os.path.join(s.events, f"backlog-{i}.parquet")
        _write(path, chunk)
        s.backlog_files.append(path)
    for i, chunk in enumerate(live):
        path = os.path.join(s.pending, f"live-{i:05d}.parquet")
        _write(path, chunk)
        s.live_files.append(path)
    return s


def read_source_log(checkpoint: str) -> dict[str, int]:
    """File name → id of the micro-batch that read it, for every file source.

    Reads the file source logs under ``<checkpoint>/sources/*``: one file
    per batch, plus a ``<n>.compact`` file every few batches that repeats
    all earlier entries.  Each entry line after the version header is a
    JSON object with the file's ``path`` and ``batchId``.
    """
    out: dict[str, int] = {}
    root = os.path.join(checkpoint, "sources")
    if not os.path.isdir(root):
        return out
    for src in sorted(os.listdir(root)):
        d = os.path.join(root, src)
        for name in sorted(os.listdir(d)):
            if not name.split(".")[0].isdigit() or name.endswith((".crc", ".tmp")):
                continue
            with open(os.path.join(d, name)) as f:
                lines = f.read().splitlines()[1:]
            for line in lines:
                if line.strip():
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def committed_batches(checkpoint: str) -> set[int]:
    d = os.path.join(checkpoint, "commits")
    if not os.path.isdir(d):
        return set()
    return {int(n) for n in os.listdir(d) if n.isdigit()}


def commit_times(progress: list[dict]) -> dict[int, float]:
    """Batch id → commit time (epoch s) for every batch that read data."""
    out = {}
    for p in progress:
        d = p.get("durationMs", {})
        if "addBatch" in d:
            start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
            out[p["batchId"]] = start.timestamp() + d["triggerExecution"] / 1e3
    return out


def file_latencies_ms(landed, batch_of: dict[str, int], commits: dict[int, float]):
    """Latency (ms) of each landed file from its due time to its batch's
    commit, or None for a file no committed batch read."""
    out = []
    for path, due, _land in landed:
        b = batch_of.get(os.path.basename(path))
        out.append(None if b is None or b not in commits else 1e3 * (commits[b] - due))
    return out


def lag_files_max(landed, batch_of, commits) -> int:
    """Most files landed but not yet committed, at any landing."""
    done = [commits.get(batch_of.get(os.path.basename(p)), float("inf")) for p, _d, _l in landed]
    return max(
        (sum(1 for (_p, _d, l2), c in zip(landed, done) if l2 <= land < c)
         for _p, _d, land in landed),
        default=0,
    )


class Generator(threading.Thread):
    """Lands the live files on schedule; never waits for the engine."""

    def __init__(self, files: list[str], dst: str, t0: float) -> None:
        super().__init__(daemon=True)
        self.files, self.dst = files, dst
        self.due = live_schedule(len(files), t0)
        self.landed: list[tuple[str, float, float]] = []

    def run(self) -> None:
        for src, due in zip(self.files, self.due):
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            dst = os.path.join(self.dst, os.path.basename(src))
            os.rename(src, dst)
            self.landed.append((dst, due, time.time()))


def _wait(cond, timeout: float, query) -> bool:
    deadline = time.time() + timeout
    last_check = 0.0
    while not cond():
        now = time.time()
        if now > deadline:
            return False
        if now - last_check > 0.5:
            last_check = now
            if not query.isActive:
                return False
        time.sleep(0.01)
    return True


def _noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def pipeline_layers(spark, staged: Staged) -> dict:
    """Batch split of the catch-up work, median of three noop writes each:
    the customer decode chain, the risk parse, and the join plus output
    formatting over both sides already decoded and cached."""
    raw_c = spark.read.schema(VALUE_SCHEMA).parquet(staged.customers)
    raw_e = spark.read.schema(VALUE_SCHEMA).parquet(*staged.backlog_files)
    customers = queries.customers_stream(raw_c)
    risk = queries.risk_stream(raw_e)
    out = {
        "pipeline.customers_decode_s": statistics.median(_noop_s(customers) for _ in range(3)),
        "pipeline.risk_parse_s": statistics.median(_noop_s(risk) for _ in range(3)),
    }
    customers, risk = customers.cache(), risk.cache()
    customers.count(), risk.count()
    joined = joins.format_customer_risk(joins.join_risk_with_customers(risk, customers))
    out["joins.join_format_s"] = statistics.median(_noop_s(joined) for _ in range(3))
    customers.unpersist(), risk.unpersist()
    return out


def output_matches(spark, staged: Staged) -> bool:
    """The sink's rows equal the batch join over every staged event file."""
    got = spark.read.parquet(staged.out)
    cust = spark.read.schema(VALUE_SCHEMA).parquet(staged.customers)
    events = spark.read.schema(VALUE_SCHEMA).parquet(staged.events)
    want = joins.format_customer_risk(joins.join_risk_with_customers(
        queries.risk_stream(events), queries.customers_stream(cust)
    ))
    return got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def start_query(spark, staged: Staged, group: str | None):
    """Start the stream; returns the query, its start time and the time the
    query function took to build the plan (its jobs in ``group`` if set)."""
    sc = spark.sparkContext
    c = spark.readStream.schema(VALUE_SCHEMA).parquet(staged.customers)
    e = spark.readStream.schema(VALUE_SCHEMA).parquet(staged.events)
    if group:
        sc.setJobGroup(group, "")
    t0 = time.perf_counter()
    out = queries.customer_risk_stream(c, e, mode="unbounded")
    call_s = time.perf_counter() - t0
    if group:
        sc.setJobGroup("perfbench/idle", "")
    t_start = time.time()
    query = (out.writeStream.format("parquet")
             .option("checkpointLocation", staged.checkpoint).start(staged.out))
    return query, t_start, call_s


def _catchup_s(query, t_start: float) -> float | None:
    """Query start until the backlog batch (batch 0) committed."""
    commits = commit_times(json.loads(p.json) for p in query.recentProgress)
    return commits[0] - t_start if 0 in commits else None


def run(session, data_dir, fingerprint, args, run_dir) -> dict:
    tracer = tracing.Tracer(bool(args.trace))
    n_warmup = int(LIVE_WARMUP_S / LIVE_INTERVAL_S)
    n_live = n_warmup + int(args.seconds / LIVE_INTERVAL_S)
    setups, catchups, plan_calls = [], [], []
    for k in range(SETUP_SAMPLES):
        t0 = time.perf_counter()
        with tracer.span("setup"):
            with tracer.span("session.start"):
                spark = session.start()
                rdds_before = persistent_rdds(spark)
            with tracer.span("stage"):
                staged = stage(spark, data_dir, os.path.join(run_dir, f"stream-{k}"),
                               args.seed, n_live)
        setups.append(time.perf_counter() - t0)
        with tracer.span("stream.catchup"):
            group = f"setup{k}/call" if tracer.enabled else None
            query, t_start, call_s = start_query(spark, staged, group)
            plan_calls.append((call_s, group))
            caught_up = _wait(lambda: 0 in committed_batches(staged.checkpoint),
                              CATCHUP_TIMEOUT_S, query)
        if k < SETUP_SAMPLES - 1:
            query.stop()
            catchups.append(_catchup_s(query, t_start))
    gen = Generator(staged.live_files, staged.events, time.time())
    with tracer.span("stream.live"):
        if caught_up:
            gen.start()
            gen.join(timeout=args.seconds + DRAIN_TIMEOUT_S)
            names = [os.path.basename(p) for p, _d, _l in gen.landed]

            def drained() -> bool:
                batch_of = read_source_log(staged.checkpoint)
                done = committed_batches(staged.checkpoint)
                return all(batch_of.get(n) in done for n in names)

            _wait(drained, DRAIN_TIMEOUT_S, query)
    query.stop()
    progress = [json.loads(p.json) for p in query.recentProgress]
    catchups.append(_catchup_s(query, t_start))
    error = query.exception()
    if error is not None:
        print(f"perfbench: stream failed: {error}", file=sys.stderr)

    commits = commit_times(progress)
    batch_of = read_source_log(staged.checkpoint)
    lat = file_latencies_ms(gen.landed, batch_of, commits)
    n_files = len(staged.backlog_files) + len(staged.live_files)
    ok_files = len(staged.backlog_files) * (0 in commits) + sum(x is not None for x in lat)
    try:
        correct = error is None and output_matches(spark, staged)
    except Exception:
        traceback.print_exc()
        correct = False
    if not correct:
        print("perfbench: stream output differs from the batch join", file=sys.stderr)
        ok_files = 0

    for p in progress:
        b = p["batchId"]
        if b in commits:
            start = commits[b] - p["durationMs"]["triggerExecution"] / 1e3
            tracer.add("streaming.batch", start, commits[b], op=f"batch:{b}",
                       rows=p["numInputRows"], durations=p["durationMs"])
    for (path, due, land), ms in zip(gen.landed, lat):
        if ms is not None:
            tracer.add("sources.file", due, due + ms / 1e3,
                       op=f"batch:{batch_of[os.path.basename(path)]}",
                       file=os.path.basename(path), landed=land)

    measured = lat[n_warmup:]
    names = [os.path.basename(p) for p, _d, _l in gen.landed[n_warmup:]]
    first = min((batch_of[n] for n in names if n in batch_of), default=1)
    live = [p for p in progress if p["batchId"] in commits and p["batchId"] >= max(first, 1)]
    good = [x for x in measured if x is not None]
    if None in catchups or not live or not good:
        raise RuntimeError("perfbench: the stream committed no catch-up or no live batch")
    e2e = {
        "setup_s": statistics.median(setups),
        # The first catch-up also pays the JVM's JIT warm-up of the stream.
        "cold_s": statistics.median(catchups[1:]),
        "warm_s": statistics.median(p["durationMs"]["triggerExecution"] / 1e3 for p in live),
        "latency_p50_ms": percentile(good, 50),
        "latency_p90_ms": percentile(good, 90),
        "heap_retained_mb": session.live_heap_mb(),
    }
    extra = pipeline_layers(spark, staged) if tracer.enabled else {}
    gc.collect()
    leaked_rdds = len(persistent_rdds(spark) - rdds_before)
    run_id = str(query.runId)

    def layers_after_stop(log_dir: str) -> dict:
        log = tracing.read_event_logs(log_dir)
        jobs = tracing.jobs_in(log, run_id)

        def med(key: str) -> float:
            return statistics.median(p["durationMs"].get(key, 0) for p in live)

        def plans(call_s: float, group: str, prefix: str) -> dict:
            eager = tracing.jobs_in(log, group)
            return {f"plans.{prefix}call_s": call_s,
                    f"plans.{prefix}eager_s": tracing.jobs_s(eager),
                    f"plans.{prefix}eager_jobs": len(eager)}

        last = max((p for p in progress if p["batchId"] in commits),
                   key=lambda p: p["batchId"], default={})
        state = last.get("stateOperators", [])
        warm_plan = plans(*plan_calls[-1], "")
        return {
            # The query function: the first session's call is the cold one,
            # the last session's (the query that runs live) the warm one.
            "plans.calls": len(plan_calls),
            **warm_plan,
            "plans.construct_s": max(warm_plan["plans.call_s"] - warm_plan["plans.eager_s"], 0.0),
            **plans(*plan_calls[0], "cold_"),
            "session.leaked_rdds": leaked_rdds,
            "spark.action_s": tracing.jobs_s(jobs),
            # The catch-up batch's jobs.
            "spark.cold_action_s": tracing.jobs_s(
                [j for j in jobs if j["submit"] <= 1e3 * commits.get(0, 0)]),
            "spark.action_jobs": len(jobs),
            **tracing.task_totals(log, {run_id}),
            "streaming.batches": len(commits),
            "streaming.trigger_ms": med("triggerExecution"),
            "streaming.add_batch_ms": med("addBatch"),
            "streaming.query_planning_ms": med("queryPlanning"),
            "streaming.wal_commit_ms": med("walCommit"),
            "streaming.commit_offsets_ms": med("commitOffsets"),
            "streaming.latest_offset_ms": med("latestOffset"),
            "streaming.get_batch_ms": med("getBatch"),
            "streaming.state_rows": sum(s.get("numRowsTotal", 0) for s in state),
            "streaming.state_bytes": sum(s.get("memoryUsedBytes", 0) for s in state),
            "streaming.state_rows_updated": sum(
                s.get("numRowsUpdated", 0)
                for p in progress if p["batchId"] in commits
                for s in p.get("stateOperators", [])
            ),
            "sources.lag_files_max": lag_files_max(gen.landed, batch_of, commits),
            "gen.late_ms_max": max((1e3 * (land - due) for _p, due, land in gen.landed),
                                   default=0.0),
            **extra,
        }

    return {
        "e2e": e2e,
        "attempted": n_files,
        "failed": n_files - ok_files,
        "tracer": tracer,
        "layers_after_stop": layers_after_stop,
    }
