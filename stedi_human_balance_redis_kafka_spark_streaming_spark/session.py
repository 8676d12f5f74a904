"""SparkSession factory and the query scope that owns cached frames.

Session factory.  The reference leaves every knob at its default (no
``.config`` call in any of its scripts — SURVEY.md §4 "Shuffle
partitioning"); at 100 TB that is wrong in both directions.
:func:`get_spark` pins the settings that matter:

* AQE on (runtime coalescing, skew-join splitting, dynamic join strategy);
* shuffle partitions sized to the local core count for tests (on a real
  cluster, callers pass ``shuffle_partitions`` ≈ 2-3× total executor cores);
* Arrow enabled so the few sanctioned Pandas-UDF operators batch-transfer;
* UTC session timezone so results compare bit-for-bit with the DuckDB
  oracle (DuckDB timestamps are UTC-naive);
* the package's parent directory on the Python workers' path, so
  Python-worker queries run from any working directory.

Query scope.  Query functions return plans lazily — the caller runs the
action — so a frame an operator persists or ``localCheckpoint``-s must
stay in the block manager until that action has run, and no longer.
This module is the only place that persists, checkpoints or unpersists:

* :func:`persist` and :func:`checkpoint` record the frame in the
  innermost open scope; :func:`release` frees one synchronously (a
  superseded loop round, an input no later plan reads) — or, given the
  frame a nested scoped call returned, what that call handed up;
* :func:`scoped` opens a scope around a function.  A nested scope hands
  its frames up to the enclosing one; the outermost scope ties them to
  the frame(s) it returns with one ``weakref.finalize``, so they are
  unpersisted when the caller drops the result.  A function that raises
  frees its scope at once, and one that returns no frame (rows, counts)
  frees it at return;
* :func:`query_scoped` is :func:`scoped` for a registered query
  (``plans.registry.register`` applies it to every one).

The one hazard the scope keeps: a ``localCheckpoint``-ed frame's lineage
is truncated, so a frame derived from it fails ("checkpoint block not
found") rather than recomputes once the scope is freed.  A frame derived
from a checkpoint must not outlive the frame the scope returned.  An
operator whose result callers build further plans on marks its final
checkpoint :func:`derivable`: called directly — no registered query
encloses it — that checkpoint is left to the ContextCleaner, which frees
it once no plan on the JVM still reads it.
"""

from __future__ import annotations

import functools
import logging
import os
import weakref
from contextvars import ContextVar

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_log = logging.getLogger(__name__)


class _Scope:
    """Frames persisted or checkpointed while one scoped call runs.  Each
    entry holds weak references to the Python frames that name it — the
    persisted frame itself, plus the result of every nested scoped call
    that handed it up — so :func:`release` finds entries by frame
    identity; the JVM object whose ``unpersist`` frees it; and whether
    it is :func:`derivable`."""

    __slots__ = ("parent", "held")

    def __init__(self, parent: _Scope | None) -> None:
        self.parent = parent
        self.held: list[tuple[tuple[weakref.ref, ...], object, bool]] = []


_SCOPE: ContextVar[_Scope | None] = ContextVar("cache_scope", default=None)


def _innermost(what: str) -> _Scope:
    scope = _SCOPE.get()
    if scope is None:
        raise RuntimeError(f"{what}() outside a @scoped function")
    return scope


def _free(handles) -> None:
    for h in handles:
        try:
            h.unpersist(False)
        except Exception as exc:
            # At interpreter shutdown the JVM gateway (and logging) may
            # already be gone; otherwise a failed release is worth a line.
            try:
                _log.warning("cached block release failed: %s", exc)
            except Exception:
                pass


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, recorded in the innermost open scope."""
    scope = _innermost("persist")
    df = df.persist()
    scope.held.append(((weakref.ref(df),), df._jdf, False))
    return df


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, recorded in the innermost open scope.

    A checkpointed Dataset's analyzed plan is a ``LogicalRDD`` whose
    ``rdd()`` is the RDD ``localCheckpoint`` registered in the block
    manager; unpersisting that RDD frees the blocks synchronously, where
    ``Dataset.unpersist`` would be a silent no-op.  This reaches through
    py4j internals, so a Spark plan-shape change raises here instead of
    turning every release into a no-op.
    """
    scope = _innermost("checkpoint")
    df = df.localCheckpoint(eager=eager)
    plan = df._jdf.queryExecution().analyzed()
    cls = plan.getClass().getSimpleName()
    if cls != "LogicalRDD":
        raise RuntimeError(
            f"localCheckpoint()-ed DataFrame has analyzed plan {cls}, not "
            f"LogicalRDD — its block release would be a silent no-op"
        )
    scope.held.append(((weakref.ref(df),), plan.rdd(), False))
    return df


def derivable(df: DataFrame) -> DataFrame:
    """Mark the checkpoint ``df`` as one the caller may derive further
    frames from.  Under a registered query it is freed with the query's
    result like any other; called directly, it is left to the
    ContextCleaner, so ``op(edges).select(...)`` still runs after the
    operator's own result is dropped."""
    scope = _innermost("derivable")
    scope.held = [
        (refs, h, keep or any(r() is df for r in refs))
        for refs, h, keep in scope.held
    ]
    return df


def release(df: DataFrame) -> None:
    """Free now what the innermost open scope holding ``df`` holds under
    it: ``df``'s own blocks if :func:`persist` or :func:`checkpoint`
    returned it, and those a nested scoped call handed up if that call
    returned it.

    Call it only once every plan that reads those blocks has run: a
    released checkpoint cannot be recomputed.
    """
    scope = _SCOPE.get()
    while scope is not None:
        keep, mine = [], []
        for entry in scope.held:
            names_df = any(r() is df for r in entry[0])
            (mine if names_df else keep).append(entry)
        if mine:
            scope.held = keep
            _free(h for _, h, _ in mine)
            return
        scope = scope.parent
    raise ValueError("release() of a frame no open scope holds")


def _frames(result) -> list[DataFrame]:
    """The DataFrames in a return value: the value itself, or those in a
    (nested) tuple or list of values."""
    if isinstance(result, DataFrame):
        return [result]
    if isinstance(result, (tuple, list)):
        return [f for r in result for f in _frames(r)]
    return []


def _tie(frames: list[DataFrame], handles: list) -> None:
    """Free ``handles`` once every one of ``frames`` is garbage.  The
    finalizers hold JVM handles only, never a Python frame, so they
    cannot keep a result alive."""
    frames = list({id(f): f for f in frames}.values())
    live = [len(frames)]

    def _drop() -> None:
        live[0] -= 1
        if live[0] == 0:
            _free(handles)

    for f in frames:
        weakref.finalize(f, _drop)


def _scope_around(fn, query: bool):
    @functools.wraps(fn)
    def call(*args, **kwargs):
        parent = _SCOPE.get()
        scope = _Scope(parent)
        token = _SCOPE.set(scope)
        try:
            result = fn(*args, **kwargs)
        except BaseException:
            _free(h for _, h, _ in scope.held)
            raise
        finally:
            _SCOPE.reset(token)
        if scope.held:
            frames = _frames(result)
            if not frames:
                _free(h for _, h, _ in scope.held)
            elif parent is not None:
                refs = tuple(weakref.ref(f) for f in frames)
                parent.held.extend((r + refs, h, k) for r, h, k in scope.held)
            else:
                # Outside a query, a derivable checkpoint is dropped
                # from the scope: the ContextCleaner reclaims it.
                handles = [h for _, h, k in scope.held if query or not k]
                if handles:
                    _tie(frames, handles)
        return result

    return call


def scoped(fn):
    """Open a cache scope around every call of ``fn`` (see module doc)."""
    return _scope_around(fn, query=False)


def query_scoped(fn):
    """:func:`scoped` for a registered query: when it is the outermost
    scope, its result's drop frees :func:`derivable` checkpoints too."""
    return _scope_around(fn, query=True)


def get_spark(
    app_name: str = "stedi-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this machine.

    In ``local[N]`` mode there is a single JVM; ``spark.driver.memory`` is
    the only memory knob.  On a real cluster the same configs apply, with
    ``master`` supplied by spark-submit instead.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        # ContextCleaner triggers System.gc(); make that a concurrent G1
        # cycle, not a stop-the-world full GC — on a multi-GB heap the
        # full-GC pauses otherwise land on whatever query is running.
        .config("spark.driver.extraJavaOptions", "-XX:+ExplicitGCInvokesConcurrent")
        .config("spark.ui.enabled", "false")
        # Python workers import the package by name (pandas UDFs); they
        # start in the driver's working directory, which need not hold it.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata events.ts is parquet TIMESTAMP(NANOS) — Spark has no nanos
        # type; read as long and convert in sources.files.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ContextCleaner cleanup rides on GC.  Measured tradeoff on this
        # box: with the default 30min interval a multi-query session
        # degrades catastrophically (trivial queries → 80-160 s late in a
        # run); at 2-5min the cleanup keeps pace, costing one bounded GC
        # pause per interval (mitigated by ExplicitGCInvokesConcurrent).
        .config("spark.cleaner.periodicGC.interval", "5min")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
