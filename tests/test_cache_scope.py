"""Cache-lifecycle tests: persisted intermediates must not outlive their query.

Round-3 VERDICT flagged that the recall-eval queries (and the dedup
operators' inverted-index caches) persist() without unpersist(), so a
long-lived session accumulates blocks until the ContextCleaner happens to
reclaim them.  The query scope in session.py ties each persist and
checkpoint to the lifetime of the frame the caller actually holds; these
tests assert the blocks are gone from the block manager once the result
is dropped — released by the scope itself, never by a JVM GC.
"""

from __future__ import annotations

import ast
import gc
import pathlib

import pytest
from conftest import assert_drains_to, persistent_rdd_count

from stedi_human_balance_redis_kafka_spark_streaming_spark import session
from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import dedup
from stedi_human_balance_redis_kafka_spark_streaming_spark.plans import registry
from stedi_human_balance_redis_kafka_spark_streaming_spark.sources.files import load_table


def test_operator_self_scope_releases_caches(spark, sf_dir):
    spark.catalog.clearCache()
    baseline = persistent_rdd_count(spark)
    docs = load_table(spark, sf_dir, "documents")
    result = dedup.minhash_lsh_pairs(docs, threshold=0.7, shingle_n=3)
    assert persistent_rdd_count(spark) > baseline  # index + candidates live
    result.count()
    del result
    assert_drains_to(spark, baseline)


def test_recall_query_releases_all_caches(spark, sf_dir):
    spark.catalog.clearCache()
    baseline = persistent_rdd_count(spark)
    result = registry.queries()["dedup_lsh_recall"](spark, sf_dir)
    rows = result.collect()
    assert len(rows) == 1
    assert persistent_rdd_count(spark) > baseline
    del result
    assert_drains_to(spark, baseline)


def test_caches_survive_until_action(spark, sf_dir):
    # The scope must NOT evict eagerly: while an enclosing scope holds the
    # operator's result, its eagerly-materialized index stays hot for the
    # action, and the enclosing scope can release it explicitly.
    spark.catalog.clearCache()
    baseline = persistent_rdd_count(spark)
    docs = load_table(spark, sf_dir, "documents")
    seen: dict = {}

    @session.scoped
    def count_pairs() -> int:
        pairs = dedup.ngram_jaccard_pairs(
            docs, threshold=0.7, n=3, max_shingle_freq=64
        )
        seen["live"] = persistent_rdd_count(spark)
        gc.collect()
        seen["after_gc"] = persistent_rdd_count(spark)
        n = pairs.count()
        session.release(pairs)  # frees what the operator handed up
        seen["released"] = persistent_rdd_count(spark)
        return n

    count_pairs()
    assert seen["live"] == baseline + 1  # the one inverted index
    assert seen["after_gc"] == seen["live"]  # nothing released early
    assert seen["released"] == baseline
    assert_drains_to(spark, baseline)


def test_multi_signal_caches_live_through_execution_then_release(spark, sf_dir):
    """dedup_multi_signal's nested operator scopes hand the pair-
    generators' index caches (plus the persisted evidence graph) up to
    the query's scope, tied to ITS result — the round-4 fix for the
    finalizer firing on the immediately-dropped inner frame and
    unpersisting the index before execution."""
    spark.catalog.clearCache()
    baseline = persistent_rdd_count(spark)
    result = registry.queries()["dedup_multi_signal"](spark, sf_dir)
    # caches must still be registered while the caller holds the result
    assert persistent_rdd_count(spark) > baseline
    rows = result.collect()
    assert rows
    assert persistent_rdd_count(spark) > baseline
    del result
    assert_drains_to(spark, baseline)


def test_srp_pairs_self_scope_releases_caches(spark, sf_dir):
    """ADVICE r13 #2 regression pin: srp_lsh_pairs called directly
    (property tests, plan audits, direct use) must release its two
    persisted frames (flattened verify frame + signature frame) once
    the caller drops the result."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.sources.files import (
        load_table,
    )

    spark.catalog.clearCache()
    baseline = persistent_rdd_count(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    result = dedup.srp_lsh_pairs(emb, threshold=0.4)
    result.count()
    assert persistent_rdd_count(spark) > baseline
    del result
    assert_drains_to(spark, baseline)


def test_followed_by_self_scope_releases_caches(spark):
    """ADVICE r13 #2 regression pin, associations side: the persisted
    (seq, item) first/last frame lives as long as the returned rules
    frame of a direct call."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        associations,
    )

    spark.catalog.clearCache()
    baseline = persistent_rdd_count(spark)
    ev = spark.createDataFrame(
        [(f"s{i % 3}", "ab"[i % 2], i, i) for i in range(12)],
        "sid string, item string, ts long, eid long",
    )
    result = associations.followed_by_pairs(
        ev, min_support=1, seq_col="sid", item_col="item",
        order_cols=("ts", "eid"),
    )
    result.count()
    del result
    assert_drains_to(spark, baseline)


def test_substring_runs_self_scope_releases_caches(spark, sf_dir):
    """substring_run_pairs persists the gram frame once for its four
    consumers; direct callers must not leak it."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.sources.files import (
        load_table,
    )

    spark.catalog.clearCache()
    baseline = persistent_rdd_count(spark)
    docs = load_table(spark, sf_dir, "documents")
    result = dedup.substring_run_pairs(docs)
    result.count()
    assert persistent_rdd_count(spark) > baseline
    del result
    assert_drains_to(spark, baseline)


def test_modularity_query_releases_all_caches(spark, sf_dir):
    """graph_modularity's scope holds LPA's final checkpoint and two
    persists; everything drains once the scored frame is dropped."""
    spark.catalog.clearCache()
    baseline = persistent_rdd_count(spark)
    result = registry.queries()["graph_modularity"](spark, sf_dir)
    rows = result.collect()
    assert len(rows) >= 1
    del result
    assert_drains_to(spark, baseline)


def test_iterative_queries_leave_no_rdds_on_a_shared_session(spark, sf_dir):
    """A long-lived session runs ann_mmr_topk and graph_kcore twice each
    with no clearCache() in between: once each result has run and been
    dropped, no persistent RDD may remain — no greedy-round state of
    mmr_topk, no peel-round checkpoint of k_core."""
    baseline = persistent_rdd_count(spark)
    queries = registry.queries()
    for _ in range(2):
        for name in ("ann_mmr_topk", "graph_kcore"):
            result = queries[name](spark, sf_dir)
            assert result.collect()
            del result
            assert_drains_to(spark, baseline)


def test_k_core_non_convergence_raises_and_releases(spark):
    """A 10-node path peels two leaves per round at k=2, five rounds
    deep; with max_iter=2 the operator must raise and must not leave
    its round checkpoints behind."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    baseline = persistent_rdd_count(spark)
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.k_core(path, k=2, max_iter=2)
    assert_drains_to(spark, baseline)
    # the same path converges (to an empty core) once the bound allows
    assert graph.k_core(path, k=2, max_iter=6).collect() == []
    assert_drains_to(spark, baseline)


def test_only_session_touches_the_block_manager():
    """One cache lifetime: no package module but session.py may call
    persist/cache/localCheckpoint/unpersist directly — a new site must
    go through session.persist / checkpoint / release so the query
    scope owns its release."""
    pkg = pathlib.Path(session.__file__).parent
    banned = {"persist", "cache", "localCheckpoint", "unpersist"}
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pathlib.Path(session.__file__):
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in banned
            ):
                offenders.append(
                    f"{path.relative_to(pkg)}:{node.lineno} .{node.func.attr}("
                )
    assert offenders == []


def test_scope_frees_on_raise_and_on_rows(spark):
    """A scoped function that raises frees its frames at once; one that
    returns rows (no frame) frees them at return; outside any scope,
    persist refuses."""
    baseline = persistent_rdd_count(spark)
    df = spark.range(10)

    @session.scoped
    def boom():
        session.persist(df.selectExpr("id * 2 AS x")).count()
        session.checkpoint(df.selectExpr("id * 3 AS x"))
        raise ValueError("boom")

    with pytest.raises(ValueError, match="boom"):
        boom()
    assert persistent_rdd_count(spark) == baseline

    @session.scoped
    def rows():
        return session.persist(df.selectExpr("id * 5 AS x")).collect()

    assert len(rows()) == 10
    assert persistent_rdd_count(spark) == baseline

    with pytest.raises(RuntimeError, match="outside a @scoped function"):
        session.persist(df)


def test_direct_call_results_can_be_derived_from(spark):
    """Called directly, connected_components, cc_star and pagerank leave
    their final checkpoint to the ContextCleaner (session.derivable): a
    frame derived from the result still runs after the result itself is
    dropped.  Under a query scope the same checkpoints are freed with the
    query's result."""
    from pyspark.sql import functions as F

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        curation,
        graph,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    for op in (curation.connected_components, curation.cc_star):
        sizes = op(edges).groupBy("cluster_id").count()
        gc.collect()
        assert sorted(r["count"] for r in sizes.collect()) == [2, 3]
    ranks = graph.pagerank(
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        dangling="redistribute",
    ).select("rank_e12")
    gc.collect()
    assert ranks.count() == 5

    @session.query_scoped
    def clusters():
        return curation.connected_components(edges).join(
            curation.cc_star(edges), ["doc_id", "cluster_id"]
        )

    baseline = persistent_rdd_count(spark)
    result = clusters()
    assert persistent_rdd_count(spark) > baseline
    assert len(result.collect()) == 5
    del result
    assert_drains_to(spark, baseline)
