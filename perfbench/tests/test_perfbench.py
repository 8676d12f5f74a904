"""Tests for the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import batch  # noqa: E402
import mixes  # noqa: E402
import run  # noqa: E402
import stream  # noqa: E402
import tracing  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _log_file(path, entries):
    with open(path, "w") as f:
        f.write("v1\n")
        for e in entries:
            f.write(json.dumps(e) + "\n")


def _entry(name, batch_id):
    return {"path": f"file:///ckpt/in/{name}", "timestamp": 1, "batchId": batch_id}


def test_source_log_maps_files_through_compact_file(tmp_path):
    src = tmp_path / "sources" / "1"
    src.mkdir(parents=True)
    # Batches 0-9 live only in the compact file (the plain files were
    # cleaned up); 10 and 11 are plain batch files.
    _log_file(src / "9.compact", [_entry(f"f{b}.parquet", b) for b in range(10)])
    _log_file(src / "10", [_entry("f10a.parquet", 10), _entry("f10b.parquet", 10)])
    _log_file(src / "11", [_entry("f11.parquet", 11)])
    (src / ".11.crc").write_text("junk")
    other = tmp_path / "sources" / "0"
    other.mkdir()
    _log_file(other / "0", [_entry("customers-0.parquet", 0)])

    batch_of = stream.read_source_log(str(tmp_path))
    assert batch_of["f0.parquet"] == 0
    assert batch_of["f9.parquet"] == 9
    assert batch_of["f10a.parquet"] == batch_of["f10b.parquet"] == 10
    assert batch_of["f11.parquet"] == 11
    assert batch_of["customers-0.parquet"] == 0
    assert len(batch_of) == 14


def test_latency_runs_from_due_time_to_batch_commit():
    progress = [
        {"batchId": 10, "timestamp": "2026-01-01T00:00:10.000Z",
         "durationMs": {"addBatch": 700, "triggerExecution": 1000}},
        # An idle trigger reads no data and has no addBatch phase.
        {"batchId": 12, "timestamp": "2026-01-01T00:00:30.000Z",
         "durationMs": {"triggerExecution": 5}},
    ]
    commits = stream.commit_times(progress)
    t10 = commits[10]
    assert list(commits) == [10]
    landed = [
        ("/in/f10a.parquet", t10 - 1.5, t10 - 1.4),
        ("/in/f10b.parquet", t10 - 0.5, t10 - 0.5),
        ("/in/lost.parquet", t10, t10),
    ]
    batch_of = {"f10a.parquet": 10, "f10b.parquet": 10}
    lat = stream.file_latencies_ms(landed, batch_of, commits)
    assert [round(x) for x in lat[:2]] == [1500, 500]
    assert lat[2] is None
    # f10a was still uncommitted when f10b landed; lost never commits.
    assert stream.lag_files_max(landed, batch_of, commits) == 2


def test_query_order_is_fixed_by_the_seed():
    mix = mixes.ITERATIVE
    assert batch.query_order(mix, 7) == batch.query_order(mix, 7)
    assert sorted(batch.query_order(mix, 7)) == sorted(mix)
    orders = {tuple(batch.query_order(mix, s)) for s in range(20)}
    assert len(orders) > 1


def test_build_cache_counter_sees_names_bound_at_import(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BUILDCACHE_DIR", str(tmp_path / "cache"))
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        buildcache,
        similarity,
    )

    original = buildcache.lookup
    counter = tracing.BuildCacheCounter(buildcache)
    try:
        key = ("perfbench", "perfbench-test")
        assert similarity._cache_lookup(key) is None
        similarity._cache_store(key, [(1,)])
        assert buildcache.lookup(key) == [(1,)]
    finally:
        counter.restore()
        buildcache.invalidate("perfbench-test")
    assert buildcache.lookup is original and similarity._cache_lookup is original
    assert dict(counter.counts) == {"lookups": 2, "hits": 1, "stores": 1}


def test_live_files_and_schedule_are_fixed_by_the_seed():
    payloads = [f'{{"customer": "user{i}", "score": {i}}}' for i in range(20_000)]
    shuffled = list(reversed(payloads))
    a = stream.split_events(payloads, 3, 40)
    assert a == stream.split_events(shuffled, 3, 40)
    assert a != stream.split_events(payloads, 4, 40)
    backlog, live = a
    assert len(live) == 40 and all(len(f) == stream.LIVE_FILE_ROWS for f in live)
    lo, hi = stream.BACKLOG_SHARE
    assert lo * len(payloads) <= len(backlog) <= hi * len(payloads)
    landed = [r for f in live for r in f]
    assert not set(landed) & set(backlog)
    due = stream.live_schedule(40, 100.0)
    assert due == stream.live_schedule(40, 100.0)
    assert due[0] == 100.0 + stream.LIVE_INTERVAL_S
    assert all(b > a for a, b in zip(due, due[1:]))


def test_metric_names_and_units_are_well_formed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert declared_e2e == run.END_TO_END
    assert declared_layer == run.PER_LAYER
    for name in [*run.END_TO_END, *run.PER_LAYER, *(w["name"] for w in spec["workloads"])]:
        assert NAME.fullmatch(name) and len(name) <= 64, name


def test_covered_time_merges_overlapping_jobs():
    assert tracing.covered_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.covered_s([]) == 0


def test_oracle_digest_ignores_row_and_column_order_but_not_values():
    import pandas as pd

    import oracle

    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, None]})
    b = pd.DataFrame({"v": [None, 0.5, 1.5], "k": [3, 1, 2]})
    assert oracle.matches(oracle.digest(a), oracle.digest(b))
    wrong_value = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, None]})
    assert not oracle.matches(oracle.digest(a), oracle.digest(wrong_value))
    wrong_kind = pd.DataFrame({"k": [1.0, 2.0, 3.0], "v": [0.5, 1.5, None]})
    assert not oracle.matches(oracle.digest(a), oracle.digest(wrong_kind))
