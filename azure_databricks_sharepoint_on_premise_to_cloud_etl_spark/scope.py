"""Materialisation scope: the one owner of eager checkpoints and persists.

Operators that cut lineage or keep an intermediate call
:func:`checkpoint` and :func:`persist` here instead of Spark directly.
Inside ``with Scope():`` every such materialisation, on the calling
thread or on any leg started by :func:`concurrently`, is recorded, and
the scope frees all of them when it exits, normally or by exception.
Outside a scope nothing is recorded and the blocks are left to Spark's
GC-driven cleaner.

Operators never open a scope of their own: a query's result still reads
the state its operators materialised, so the caller wraps the query AND
its consumption::

    with Scope():
        rows = q_dedup_components(spark, sf_dir).collect()

Iterative operators free each superseded generation themselves with
:func:`release` as soon as the next one is materialised, which bounds
storage at two generations however many rounds run.
"""

from __future__ import annotations

import contextvars
import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation

_CURRENT: contextvars.ContextVar[Scope | None] = contextvars.ContextVar(
    "materialisation_scope", default=None
)


class Scope:
    """Context manager that frees, on exit, every checkpoint and persist
    made inside it on any thread that inherited it."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._ckpts: dict = {}  # JVM RDD id -> (JVM RDD, SparkSession)
        self._cached: list[DataFrame] = []
        self._token = None

    def __enter__(self) -> Scope:
        self._token = _CURRENT.set(self)
        return self

    def __exit__(self, *exc) -> bool:
        _CURRENT.reset(self._token)
        with self._lock:
            ckpts, self._ckpts = list(self._ckpts.values()), {}
            cached, self._cached = self._cached, []
        for rdd, spark in reversed(ckpts):
            _free(rdd, spark)
        for df in cached:
            _unpersist(df)
        return False


def checkpoint(
    df: DataFrame,
    observe: Column | list[Column] | None = None,
    reliable: bool = False,
):
    """Eagerly checkpoint ``df`` and record it in the current scope.

    ``reliable`` writes the generation under the SparkContext's
    checkpoint dir (it survives executor loss) instead of keeping blocks
    on executors.  ``observe`` takes named aggregate columns that ride
    the same job; with it the call returns ``(frame, metrics)``, where
    ``metrics`` maps each alias to its value, and without it the frame.
    """
    obs = None
    if observe is not None:
        obs = Observation()
        cols = [observe] if isinstance(observe, Column) else list(observe)
        df = df.observe(obs, *cols)
    out = df.checkpoint(eager=True) if reliable else df.localCheckpoint(eager=True)
    scope = _CURRENT.get()
    if scope is not None:
        rdd = out._jdf.queryExecution().analyzed().rdd()
        with scope._lock:
            scope._ckpts[rdd.id()] = (rdd, out.sparkSession)
    return out if obs is None else (out, obs.get)


def persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> DataFrame:
    """``df.persist(level)``, recorded in the current scope."""
    out = df.persist(level)
    scope = _CURRENT.get()
    if scope is not None:
        with scope._lock:
            scope._cached.append(out)
    return out


def release(df: DataFrame) -> None:
    """Free ``df``'s materialisation now, before its scope exits.

    For superseded generations that nothing reads again: a released
    checkpoint cannot be recomputed.  ``df`` may be a projection of the
    checkpointed frame or its stats-stripped rewrap; the checkpoint
    behind it is found through the plan.  A frame backed by nothing
    materialised is a no-op.
    """
    scope = _CURRENT.get()
    if df.is_cached:
        _unpersist(df)
        if scope is not None:
            with scope._lock:
                scope._cached = [c for c in scope._cached if c is not df]
        return
    rdd = _backing_rdd(df)
    if rdd is None:
        return
    _free(rdd, df.sparkSession)
    if scope is not None:
        with scope._lock:
            scope._ckpts.pop(rdd.id(), None)


def concurrently(*fns):
    """Run independent legs on threads that inherit the current scope.

    Waits for every leg, then returns their results in argument order or
    re-raises the first leg's error (in argument order).  Whatever a
    failed run materialised is freed by the enclosing scope.
    """
    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        futures = [pool.submit(contextvars.copy_context().run, fn) for fn in fns]
    return [f.result() for f in futures]


def _backing_rdd(df: DataFrame):
    """The checkpointed JVM RDD behind ``df``: the single ``LogicalRDD``
    leaf of its analyzed plan, followed down one-to-one dependencies
    (the row-conversion RDD a stats-stripping rewrap puts on top) to
    the first checkpointed RDD.  None when there is no such RDD."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        if leaves.size() != 1:
            return None
        leaf = leaves.head()
        if leaf.getClass().getSimpleName() != "LogicalRDD":
            return None
        rdd = leaf.rdd()
        while not rdd.isCheckpointed():
            deps = rdd.dependencies()
            if deps.size() != 1:
                return None
            rdd = deps.head().rdd()
        return rdd
    except Exception:
        return None


def _free(rdd, spark) -> None:
    """Drop a checkpointed RDD's executor blocks, or delete its reliable
    checkpoint files.  ``DataFrame.unpersist`` does neither: a checkpoint
    lives outside the cache manager, and Spark's cleaner reclaims it only
    when the JVM collects the RDD object.  Best-effort: after a stopped
    session or an internal-API surprise the cleaner still gets it."""
    try:
        opt = rdd.getCheckpointFile()
        if opt.isDefined():
            sc = spark.sparkContext
            path = sc._jvm.org.apache.hadoop.fs.Path(opt.get())
            path.getFileSystem(sc._jsc.hadoopConfiguration()).delete(path, True)
        else:
            rdd.unpersist(False)
    except Exception:
        pass


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass  # session already stopped: nothing left to free
