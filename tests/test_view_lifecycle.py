"""One temp-view lifecycle (``operators._util.transient_views``).

Every transient view the library registers — the engine's SQL path,
``sql_over``, the curate QA report, the streaming drains — is dropped
from the session catalog as soon as its one ``spark.sql`` returns.
That drop removes the name only; ``spark.catalog.dropTempView`` would
also uncache every cache entry whose plan matches the view's."""

from __future__ import annotations

import pytest

from pql_spark import PqlEngine
from pql_spark.operators._util import sql_over


def _cached(spark, df) -> bool:
    cm = spark._jsparkSession.sharedState().cacheManager()
    return cm.lookupCachedData(df._jdf).isDefined()


def _transient_views(spark) -> list[str]:
    return [
        t.name for t in spark.catalog.listTables()
        if t.isTemporary and t.name.lower().startswith(("__sq_", "__pql_"))
    ]


def _reads_cache(df) -> bool:
    return "InMemoryTableScan" in (
        df._jdf.queryExecution().executedPlan().toString()
    )


@pytest.fixture
def persisted(spark):
    df = spark.createDataFrame(
        [(i, f"u{i % 3}") for i in range(30)], "id long, user string"
    ).persist()
    df.count()
    yield df
    df.unpersist()


def test_session_catalog_drop_keeps_the_cache_entry(spark, persisted):
    # the Spark behaviour the design rests on: the public drop cascades
    # an uncache of the matching entry, the session-catalog drop does not
    persisted.createOrReplaceTempView("__pql_pin")
    spark._jsparkSession.sessionState().catalog().dropTempView("__pql_pin")
    assert _cached(spark, persisted)
    persisted.createOrReplaceTempView("__pql_pin")
    spark.catalog.dropTempView("__pql_pin")
    assert not _cached(spark, persisted)


@pytest.mark.parametrize("backend", ["auto", "sql"])
def test_engine_query_keeps_a_persisted_resolver_frame(
    spark, persisted, backend
):
    eng = PqlEngine(spark, resolver={"EV": persisted}, backend=backend)
    q = "EV | summarize n = count() by user | sort by user asc"
    first = eng.query(q).collect()
    assert _cached(spark, persisted)
    second = eng.query(q)
    assert second.collect() == first
    assert _cached(spark, persisted)
    assert _reads_cache(second)
    assert _transient_views(spark) == []


def test_sql_over_leaves_no_views(spark, persisted):
    before = _transient_views(spark)
    for _ in range(1000):
        sql_over({"t": persisted}, "SELECT id FROM {t}")
    assert _transient_views(spark) == before == []
    assert _cached(spark, persisted)


def test_transient_views_drop_on_error(spark, persisted):
    from pql_spark.operators._util import transient_views

    with pytest.raises(RuntimeError):
        with transient_views(spark) as view:
            view("t", persisted)
            assert len(_transient_views(spark)) == 1
            raise RuntimeError("boom")
    assert _transient_views(spark) == []
    assert _cached(spark, persisted)


def test_derived_frame_runs_after_its_views_are_dropped(spark, persisted):
    out = sql_over({"t": persisted}, "SELECT id, user FROM {t} WHERE id < 10")
    derived = out.groupBy("user").count()
    assert sum(r["count"] for r in derived.collect()) == 10
    assert _reads_cache(derived)
