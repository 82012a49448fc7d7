"""Every materialization in the package: persist, checkpoint, temp view,
temporary function.

No other module calls ``persist``, ``localCheckpoint``, ``unpersist``,
``createOrReplaceTempView`` or registers a UDF/UDTF (guarded by
tests/test_plans.py). ``with scope() as s:`` opens a scope (scopes
nest); ``persist``, ``checkpoint``, ``temp_view`` and ``temp_function``
register with the innermost open one, which frees them on exit, also
on an exception. ``checkpoint`` records its RDD id: checkpoint blocks
are not CacheManager entries, so neither ``DataFrame.unpersist`` nor
``clearCache()`` reaches them.
``release(df)`` frees one registration early (a loop's previous round);
``s.keep(df)`` hands one to the enclosing scope.

Ownership rule: a function opens its own scope only for state it
finishes with itself (an iterative operator's edge lists and per-round
checkpoints). What its returned lazy plan still reads — a ``keep``-ed
final checkpoint, a persisted input — belongs to the caller's scope.
The caller of a registry query opens one scope around building the
query and the action that consumes it, so the query releases every
cache, checkpoint, view and function it created.

With no scope open, nothing is registered: the materialization lives
on, as a bare ``df.persist()`` would. Functions with a scope of their
own still free their state.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

# a registration: the DataFrame (None for a function) and the call that frees it
_Held = tuple[DataFrame | None, Callable[[], object]]


class Scope:
    """The materializations registered while this scope is innermost."""

    def __init__(self, parent: Scope | None) -> None:
        self.parent = parent
        self.held: list[_Held] = []

    def keep(self, df: DataFrame) -> DataFrame:
        """Hand ``df``'s registration to the enclosing scope (to nothing
        when this scope is the outermost); returns ``df``."""
        held = self._take(df)
        if held is None:
            raise ValueError("keep(): DataFrame is not registered with this scope")
        if self.parent is not None:
            self.parent.held.append(held)
        return df

    def _take(self, df: DataFrame) -> _Held | None:
        for i in range(len(self.held) - 1, -1, -1):
            if self.held[i][0] is df:
                return self.held.pop(i)
        return None


_CURRENT: ContextVar[Scope | None] = ContextVar("materialize_scope", default=None)


@contextmanager
def scope() -> Iterator[Scope]:
    s = Scope(_CURRENT.get())
    token = _CURRENT.set(s)
    try:
        yield s
    finally:
        _CURRENT.reset(token)
        while s.held:
            s.held.pop()[1]()


def persist(df: DataFrame) -> DataFrame:
    out = df.persist()
    _register(out, out.unpersist)
    return out


def checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    out = df.localCheckpoint(eager=eager)
    # the checkpointed Dataset's plan is a LogicalRDD over the marked RDD
    rdd_id = out._jdf.queryExecution().logical().rdd().id()
    jsc = out.sparkSession.sparkContext._jsc

    def free() -> None:
        rdd = jsc.getPersistentRDDs().get(rdd_id)
        if rdd is not None:
            rdd.unpersist(False)

    _register(out, free)
    return out


def temp_view(df: DataFrame, name: str) -> None:
    """``df.createOrReplaceTempView(name)``, dropped when the scope exits."""
    df.createOrReplaceTempView(name)
    _register(df, lambda: df.sparkSession.catalog.dropTempView(name))


def temp_function(spark: SparkSession, name: str, udtf) -> None:
    """``spark.udtf.register(name, udtf)``: a session-global temporary
    function, dropped when the scope exits. A DataFrame already analyzed
    against it still runs after the drop."""
    spark.udtf.register(name, udtf)
    _register(None, lambda: spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}"))


def release(df: DataFrame) -> None:
    """Free ``df``'s registration now, from the innermost scope holding it."""
    s = _CURRENT.get()
    while s is not None:
        held = s._take(df)
        if held is not None:
            held[1]()
            return
        s = s.parent
    raise ValueError("release(): DataFrame is not registered with an open scope")


def _register(df: DataFrame | None, free: Callable[[], object]) -> None:
    s = _CURRENT.get()
    if s is not None:
        s.held.append((df, free))


# Every current call site returns a small aggregate (≤ a few hundred
# rows). 10k leaves two orders of magnitude of headroom while still
# catching a data-sized result long before it threatens the driver.
MAX_DRIVER_ROWS = 10_000


def driver_sized(out: DataFrame, max_rows: int = MAX_DRIVER_ROWS) -> DataFrame:
    """Materialize `out` through the driver, bounded by `max_rows`.

    For results computed from state torn down before the DataFrame is
    consumed (a temp dir deleted in a ``finally``, a catalog server shut
    down, a streaming checkpoint dir): the rows round-trip through the
    driver once, which is only safe while the result is DRIVER-SIZED.
    This is the single chokepoint (tests/test_plans.py asserts no raw
    ``createDataFrame(out.collect()`` site exists elsewhere): it collects
    at most ``max_rows + 1`` rows (a LIMIT, so the transfer itself is
    bounded even on a runaway plan) and refuses to continue if the limit
    is hit, instead of silently ballooning driver memory."""
    spark = out.sparkSession
    rows = out.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"driver-sized materialization exceeded {max_rows} rows — "
            "this result is data-sized; keep it distributed instead"
        )
    return spark.createDataFrame(rows, out.schema)
