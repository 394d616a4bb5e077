"""One pin lifecycle: the only code that materializes a frame for reuse
or releases one.

A frame read by more than one consumer is pinned so its upstream runs
once.  :func:`pin` picks the flavor from ``eager`` and Catalyst's
plan-time size estimate against :data:`SMALL_FRAME_BYTES`:

===========  ======================  ================================
``eager``    estimate below it       estimate at/above it, or unknown
===========  ======================  ================================
True         ``localCheckpoint``     ``localCheckpoint(DISK_ONLY)``
False        ``persist()``           ``persist(DISK_ONLY)``
===========  ======================  ================================

The threshold is the convoy criterion: an in-memory pin unrolls its
blocks deserialized, and once a frame stops fitting trivially every task
serializes on the unroll-reservation lock (a jstack'd convoy that ran
over an hour on a 1.68 GiB input, SCALE.md round 14); DISK_ONLY streams
serialized blocks in parallel.  Unknown goes to disk, since the convoy,
not the disk write, is the failure guarded against.

Eager pins truncate the plan, so consumers' plans stay constant-size (a
lineage-kept persist nests its producer's plan once per reader, and
rendering that down a pinned chain cost 209 s of driver CPU at sf0.001),
but a released eager pin cannot recompute: release one only after every
consumer has materialized.  Lazy pins keep lineage; they serve
plan-inspection mode (``materialize=False``), the registry's keyed pins
(materialized by the query's own action), and frames that must keep
their ``outputPartitioning``, which a checkpoint drops (Spark 4.1's
``LogicalRDD`` reports ``UnknownPartitioning``).

Scopes.  Every pin is recorded (label, estimate, flavor, release handle)
in the calling thread's innermost scope: an open ``with scope():``
block, else the registry query scope the thread last entered, else a
default scope that only :func:`release_all` drains.  Stacks are per
thread because a streaming ``foreachBatch`` runs on a callback thread.
A ``with`` scope releases its pins on exit, normal or raised;
:meth:`Scope.keep` first hands a result pin to the enclosing scope.

Query scopes.  Each registry entry (:func:`enter_query`) opens a scope
and releases the one two entries back, so a query's pins outlive its
action and the next query can :func:`claim` them by key.  A claim adopts
the previous query's whole scope, so a claimed frame never reads a
released ancestor (e.g. a keyed persist over ``connected_components``
reads the loop's checkpoints).

Release.  A persist is released with ``DataFrame.unpersist``.  A
checkpoint is not a CacheManager entry — ``unpersist`` on it is a
silent no-op that leaves its blocks until a JVM GC reaches the
ContextCleaner — so it is released through its backing RDD, recorded at
pin time.  No release waits on GC.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

#: Flavor threshold, from SCALE.md's measured criterion ("above ~100 MB
#: of corpus text per pinned frame, use disk").
SMALL_FRAME_BYTES = 100 << 20


def plan_size_estimate(df: DataFrame) -> int | None:
    """Catalyst's size-in-bytes estimate of ``df``'s optimized plan, or
    ``None`` when it is unavailable (analysis errors, sessions without
    ``_jdf``).  Pure stat propagation — no job runs.  Downstream of an
    existing pin the estimate reads the pin's real size."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None


@dataclass
class Pin:
    """One pin decision.  ``frame`` and ``rdd`` are dropped on release;
    the record stays in its scope until the scope closes."""

    label: str
    est: int | None
    flavor: str  # checkpoint | checkpoint_disk | persist | persist_disk
    frame: DataFrame | None
    rdd: object | None  # a checkpoint's backing JVM RDD

    @property
    def live(self) -> bool:
        return self.frame is not None

    @property
    def disk(self) -> bool:
        return self.flavor.endswith("_disk")


def _detach(pins: list[Pin]) -> list[tuple]:
    """Take the release handles of ``pins`` (under :data:`_LOCK`), so
    each pin is released exactly once."""
    handles = [(p.frame, p.rdd) for p in pins if p.live]
    for p in pins:
        p.frame = p.rdd = None
    return handles


def _unpersist(handles: list[tuple], blocking: bool) -> None:
    for frame, rdd in handles:
        if rdd is not None:
            rdd.unpersist(blocking)
        else:
            frame.unpersist(blocking)


class Scope:
    """The pins made while this scope was a thread's innermost one, plus
    the registry keys bound to them."""

    def __init__(self, parent: Scope | None = None):
        self.parent = parent
        self.pins: list[Pin] = []
        self.keys: dict[str, DataFrame] = {}
        self.closed = False

    def keep(self, df: DataFrame) -> None:
        """Hand the live pin of ``df`` to the enclosing scope, so it
        outlives this one."""
        with _LOCK:
            rec = _find(df, [self])
            if rec is None:
                return
            self.pins.remove(rec)
            dest = self.parent
            if dest is None or dest.closed:
                dest = _DEFAULT
            dest.pins.append(rec)

    def _drain(self) -> list[tuple]:
        handles = _detach(self.pins)
        self.pins, self.keys = [], {}
        return handles

    def _close(self) -> None:
        with _LOCK:
            self.closed = True
            _OPEN.discard(self)
            handles = self._drain()
        _unpersist(handles, blocking=False)


_LOCK = threading.RLock()
_THREAD = threading.local()
_DEFAULT = Scope()
#: Every scope that may hold live pins.
_OPEN: set[Scope] = {_DEFAULT}
#: Registry query scopes, oldest first; at most two.
_GENS: list[Scope] = []


def _current() -> Scope:
    stack = getattr(_THREAD, "stack", None)
    if stack:
        return stack[-1]
    query = getattr(_THREAD, "query", None)
    if query is not None and not query.closed:
        return query
    return _DEFAULT


def _find(df: DataFrame, scopes) -> Pin | None:
    for s in scopes:
        for p in s.pins:
            if p.frame is df:
                return p
    return None


def pin(df: DataFrame, label: str, eager: bool = True) -> DataFrame:
    """Pin ``df`` in the current scope and return the frame consumers
    must read.  ``eager=True`` materializes now and truncates the plan;
    ``eager=False`` keeps lineage and materializes on first use."""
    # A lazy pin returns ``df`` itself, so its estimate runs on an alias:
    # optimizing df's own query execution before the persist would fix
    # a plan without the cache for every later action on df.
    est = plan_size_estimate(df if eager else df.alias("pin"))
    small = est is not None and est < SMALL_FRAME_BYTES
    rdd = None
    if eager:
        if small:
            flavor, out = "checkpoint", df.localCheckpoint(eager=True)
        else:
            flavor = "checkpoint_disk"
            out = df.localCheckpoint(
                eager=True, storageLevel=StorageLevel.DISK_ONLY
            )
        # the LogicalRDD the checkpointed frame analyzes to
        rdd = out._jdf.queryExecution().analyzed().rdd()
    elif small:
        flavor, out = "persist", df.persist()
    else:
        flavor, out = "persist_disk", df.persist(StorageLevel.DISK_ONLY)
    with _LOCK:
        _current().pins.append(Pin(label, est, flavor, out, rdd))
    return out


def release(df: DataFrame) -> None:
    """Release the live pin of ``df`` now.  A no-op for a frame that
    holds no live pin."""
    with _LOCK:
        rec = _find(df, list(_OPEN))
        handles = _detach([rec]) if rec is not None else []
    _unpersist(handles, blocking=False)


def is_disk(df: DataFrame) -> bool:
    """True when ``df`` holds a live pin on disk."""
    with _LOCK:
        rec = _find(df, list(_OPEN))
    return rec is not None and rec.disk


@contextmanager
def scope() -> Iterator[Scope]:
    """Open a scope in this thread; every pin made inside it is released
    when the block exits, normally or by an exception."""
    s = Scope(parent=_current())
    with _LOCK:
        _OPEN.add(s)
    stack = _THREAD.__dict__.setdefault("stack", [])
    stack.append(s)
    try:
        yield s
    finally:
        stack.remove(s)
        s._close()


def live_pins() -> list[Pin]:
    """The records of every live pin, in every scope."""
    with _LOCK:
        return [p for s in _OPEN for p in s.pins if p.live]


def release_all() -> None:
    """Release every live pin, in every scope (blocking, so a following
    cache assertion never sees a removal still in flight)."""
    with _LOCK:
        handles = [h for s in list(_OPEN) for h in s._drain()]
    _unpersist(handles, blocking=True)


# -- registry query scopes ---------------------------------------------------


def enter_query() -> None:
    """Open the calling thread's scope for a new registry query entry,
    and release the scope of the entry two back."""
    s = Scope()
    with _LOCK:
        _GENS.append(s)
        _OPEN.add(s)
        stale = _GENS.pop(0) if len(_GENS) > 2 else None
    _THREAD.query = s
    if stale is not None:
        stale._close()


def claim(key: str, spark: SparkSession) -> DataFrame | None:
    """The frame pinned under ``key`` in the current scope or, for the
    newest query scope, in the previous query's scope — whose pins the
    current one then adopts.  ``None`` on a miss or when the frame
    belongs to another SparkSession."""
    with _LOCK:
        cur = _current()
        hit = cur.keys.get(key)
        if hit is None and len(_GENS) == 2 and cur is _GENS[1]:
            prev = _GENS[0]
            hit = prev.keys.get(key)
            if hit is not None and hit.sparkSession is spark:
                cur.pins.extend(prev.pins)
                for k, v in prev.keys.items():
                    cur.keys.setdefault(k, v)
                prev.pins, prev.keys = [], {}
        if hit is None or hit.sparkSession is not spark:
            return None
        return hit


def pin_keyed(df: DataFrame, key: str) -> DataFrame:
    """Lazy :func:`pin` of ``df``, bound to ``key`` in the current scope
    so the next query can :func:`claim` it."""
    out = pin(df, key, eager=False)
    with _LOCK:
        _current().keys[key] = out
    return out
