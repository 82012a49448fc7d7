"""materialize: scoped persist/checkpoint ownership and the zero-leak gate.

A query builds its DataFrame and the caller consumes it inside one
``materialize.scope()``; when the scope exits, every cache and
checkpoint the query created is gone. The gate runs the whole registry
that way in one session.
"""

from __future__ import annotations

import contextvars
import time

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE
from iceberg_rest_server_spark import materialize
from iceberg_rest_server_spark.queries import REGISTRY


def _persistent(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _user_functions(spark) -> set[str]:
    return {r[0] for r in spark.sql("SHOW USER FUNCTIONS").collect()}


def _frame(spark):
    return spark.range(50).groupBy((F.col("id") % 5).alias("k")).count()


def test_scope_frees_persists_and_checkpoints(spark):
    before = _persistent(spark)
    with materialize.scope():
        p = materialize.persist(_frame(spark))
        c = materialize.checkpoint(_frame(spark))
        assert p.count() == 5 and c.count() == 5
        assert p.storageLevel.useMemory
        assert len(_persistent(spark) - before) == 2
    assert _persistent(spark) == before
    assert not p.storageLevel.useMemory


def test_scope_frees_on_exception(spark):
    before = _persistent(spark)
    with pytest.raises(RuntimeError):
        with materialize.scope():
            materialize.checkpoint(_frame(spark), eager=True)
            raise RuntimeError("boom")
    assert _persistent(spark) == before


def test_release_frees_early_and_keep_hands_to_caller(spark):
    before = _persistent(spark)
    with materialize.scope():
        with materialize.scope() as inner:
            a = materialize.checkpoint(_frame(spark), eager=True)
            b = inner.keep(materialize.checkpoint(_frame(spark), eager=True))
            materialize.release(a)
            assert len(_persistent(spark) - before) == 1
        # b outlives the inner scope and still reads its blocks
        assert len(_persistent(spark) - before) == 1
        assert b.count() == 5
    assert _persistent(spark) == before
    with pytest.raises(ValueError):
        materialize.release(a)


def test_scope_drops_temp_views(spark):
    with materialize.scope():
        materialize.temp_view(_frame(spark), "materialize_probe")
        assert spark.sql("SELECT count(*) FROM materialize_probe").first()[0] == 5
    assert "materialize_probe" not in _temp_views(spark)


def test_scope_drops_temp_functions(spark):
    from pyspark.sql.functions import udtf

    @udtf(returnType="n: int")
    class Upto:
        def eval(self, k: int):
            yield from ((i,) for i in range(k))

    before = _user_functions(spark)
    with materialize.scope():
        materialize.temp_function(spark, "materialize_probe_fn", Upto)
        assert _user_functions(spark) - before
        df = spark.sql("SELECT sum(n) FROM materialize_probe_fn(4)")
        df.collect()
    assert _user_functions(spark) == before
    assert df.first()[0] == 6  # an analyzed plan outlives the drop


def test_no_scope_registers_nothing(spark):
    """Without an open scope a materialization lives on, as a bare
    df.persist() would (callers that never open a scope see no change)."""
    before = _persistent(spark)

    def unscoped():  # a fresh context: the per-test scope is not open here
        c = materialize.checkpoint(_frame(spark), eager=True)
        p = materialize.persist(_frame(spark))
        p.count()
        with materialize.scope():
            pass  # a later scope does not adopt them
        return c, p

    c, p = contextvars.Context().run(unscoped)
    assert len(_persistent(spark) - before) == 2
    assert c.count() == 5
    p.unpersist()
    spark.sparkContext._jsc.getPersistentRDDs().get(
        c._jdf.queryExecution().logical().rdd().id()
    ).unpersist(False)


def test_registry_queries_release_every_materialization(spark):
    """Every registry query, built and consumed (toPandas) inside one
    query scope at sf0.001 in this one session, leaves nothing behind:
    no persisted RDD that was not there before the query, an empty
    CacheManager and no added temp view or temporary function. (RDD
    ids, not the count: the ContextCleaner may unpersist an earlier leak
    mid-query.)"""
    # every earlier test ran in its own scope (conftest.query_scope)
    assert _cache_empty(spark), "an earlier test left a CacheManager entry behind"
    views = _temp_views(spark)
    functions = _user_functions(spark)
    leaks = []
    t0 = time.perf_counter()
    for name, q in REGISTRY.items():
        before = _persistent(spark)
        with materialize.scope():
            q.fn(spark, SF_SMOKE).toPandas()
        left = len(_persistent(spark) - before)
        cached = not _cache_empty(spark)
        names = sorted(_temp_views(spark) - views) + sorted(_user_functions(spark) - functions)
        if left or cached or names:
            leaks.append((name, left, cached, names))
            spark.catalog.clearCache()  # so the next query is judged on its own
    print(f"{len(REGISTRY)} queries in {time.perf_counter() - t0:.0f} s")
    assert not leaks, f"{len(leaks)} queries leak {sum(n for _, n, _, _ in leaks)} RDDs:\n" + "\n".join(
        f"{name}: rdds={n} cache_entries={c} views/functions={v}" for name, n, c, v in leaks
    )
