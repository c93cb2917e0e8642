"""Session state: the one registry of everything the engine keeps
between query builds.

Every entry is keyed by ``(applicationId, kind, key)``, so a new
SparkContext never sees a stale handle. There are two kinds:

- ``PLAN`` — unexecuted handles and catalog metadata: resolved fixture
  relations, registered temp views, the recursion-valve child session,
  ``catalog.register`` bindings, and persist generations. Every action
  over a plan entry still computes from the inputs, so plan entries
  survive ``reset_session_memos()``.
- ``RESULT`` — executed data: the GEMM survivor checkpoint, the fitted
  k-means, the label-propagation fixpoint and the shared edge frame it
  runs on. Serving one of these across timed runs measures a cache hit,
  not work, so ``reset_session_memos()`` (bench and perfbench call it
  before each timed call) retires every result entry: none is served
  again, and the next build of its key recomputes from the inputs.

One pinned generation per key. ``get_or_build`` returns the entry's
value when the ``match`` it was built for still holds (identity or
equality, or Spark's canonical plan equality with ``by_plan`` — the
check the CacheManager itself uses); otherwise it builds the next
generation, pins it, and only then releases the generation it replaces,
so a swap never forces a recompute of data the new value reads. ``keep``
> 1 holds a FIFO of that many generations, for operators instantiated
more than once inside one returned plan.

Releasing a value frees whatever it pinned: a ``persist()``ed frame is
unpersisted, a ``localCheckpoint`` frame has its checkpoint RDD
unpersisted (``unpersist()`` on such a frame frees nothing). A frame
that another entry still holds is left alone, so the last holder
releases it. Generation swaps and ``drop`` release; a retired result
is released when its key's next generation is pinned, so no key ever
pins more generations than it keeps. (Releasing at the reset
instead would make the number of pinned frames after a run of calls
depend on which call ran last.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame

PLAN = "plan"
RESULT = "result"

# (applicationId, kind, key) -> [(match, value), ...], oldest first
_ENTRIES: dict[tuple, list[tuple[object, object]]] = {}


def _frames(value):
    if isinstance(value, DataFrame):
        yield value
    elif isinstance(value, (tuple, list)):
        for v in value:
            yield from _frames(v)


def _release(value) -> None:
    """Free what ``value`` (a frame, or a tuple/list of them) pinned."""
    for df in _frames(value):
        try:
            if df.is_cached:
                df.unpersist()
            else:
                plan = df._jdf.queryExecution().logical()
                if plan.nodeName() == "LogicalRDD":
                    plan.rdd().unpersist(False)
        except Exception:
            pass  # best effort: a failed release must not fail the swap


def _release_unheld(gens) -> None:
    held = {id(f) for kept in _ENTRIES.values() for _, v in kept for f in _frames(v)}
    for _, value in gens:
        _release([f for f in _frames(value) if id(f) not in held])


def _same(old, new, by_plan: bool) -> bool:
    if by_plan and isinstance(old, DataFrame) and isinstance(new, DataFrame):
        return old is new or old.sameSemantics(new)
    return old is new or old == new  # frames define no __eq__: identity


def get_or_build(spark, kind: str, key, build, match=None, by_plan: bool = False, keep: int = 1):
    """The value pinned under ``key`` for ``match``, else ``build()``'s
    value pinned as the key's newest generation (see module doc)."""
    k = (spark.sparkContext.applicationId, kind, key)
    gens = _ENTRIES.setdefault(k, [])
    for m, value in reversed(gens):
        if _same(m, match, by_plan):
            return value
    value = build()
    gens.append((match, value))
    if len(gens) > keep:
        gone = gens[:-keep]
        del gens[:-keep]
        _release_unheld(gone)
    return value


def swap(spark, kind: str, key, value):
    """Pin ``value`` as the one generation of ``key``, releasing the
    one it replaces (a fresh ``match`` never equals a pinned one).
    Returns ``value``."""
    return get_or_build(spark, kind, key, lambda: value, match=object())


def persist_swap(key: str, df: DataFrame) -> DataFrame:
    """``df`` persisted as a plan generation of ``key`` — or the pinned
    generation with the same plan, whose cache the new frame would hit
    anyway (unpersisting it would evict that very cache)."""
    return get_or_build(df.sparkSession, PLAN, key, df.persist, match=df, by_plan=True)


def lookup(spark, kind: str, key):
    """The newest value pinned under ``key``, else None."""
    gens = _ENTRIES.get((spark.sparkContext.applicationId, kind, key))
    return gens[-1][1] if gens else None


def drop(spark, kind: str, key) -> None:
    """Forget ``key`` and release what it pinned."""
    _release_unheld(_ENTRIES.pop((spark.sparkContext.applicationId, kind, key), []))


def reset_session_memos() -> None:
    """Retire every ``RESULT`` entry (see module doc). Plan entries are
    kept."""
    for (_, kind, _), gens in _ENTRIES.items():
        if kind == RESULT:
            gens[:] = [(object(), value) for _, value in gens]
