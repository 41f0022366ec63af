"""The tracked-persist registry must actually drain (ADVICE r9):
``tracked_persist`` parks strong DataFrame refs until someone evicts,
so the session lifecycle — ``PqlEngine.close()`` / context manager,
and bench.py's per-query drain — must call ``unpersist_tracked``.
That drain releases persists only: temp views are never parked, each
transient view is dropped as soon as its one ``spark.sql`` returns
(``operators._util.transient_views``), and that drop never evicts a
persist."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pql_spark.engine import PqlEngine
from pql_spark.operators._util import (
    _TRACKED_PERSISTS,
    tracked_persist,
    unpersist_tracked,
)


def test_engine_close_drains_registry(spark):
    unpersist_tracked()  # start clean
    df = tracked_persist(spark.range(10).withColumn("x", F.col("id") * 2))
    df.count()  # materialize the cache
    assert len(_TRACKED_PERSISTS) == 1
    assert df.storageLevel.useMemory
    eng = PqlEngine(spark, {"t": df})
    n = eng.close()
    assert n == 1
    assert _TRACKED_PERSISTS == []
    assert not df.storageLevel.useMemory  # block really evicted
    assert df.count() == 10  # evicted plan recomputes fine


def test_engine_context_manager_drains(spark):
    unpersist_tracked()
    with PqlEngine(spark) as eng:
        tracked_persist(spark.range(5))
        tracked_persist(spark.range(6))
        assert len(_TRACKED_PERSISTS) == 2
        assert eng is not None
    assert _TRACKED_PERSISTS == []


def test_pipeline_persists_are_tracked_and_drain(spark):
    """curate_corpus registers its intermediates; after the caller
    materializes and closes, nothing lingers in the registry."""
    from pql_spark.pipelines import curate_corpus

    unpersist_tracked()
    docs = spark.createDataFrame(
        [(i, "the quick brown fox " * 8) for i in range(40)],
        "doc_id long, text string",
    )
    with PqlEngine(spark):
        out = curate_corpus(docs, min_quality=0.0, near_dup_threshold=0.9)
        out.count()
        assert len(_TRACKED_PERSISTS) >= 1
    assert _TRACKED_PERSISTS == []


def test_curate_qa_keeps_tracked_persists_cached(spark):
    """Building the QA report drops its views without evicting the
    pipeline's persists, and the report reads them from memory."""
    from pql_spark.pipelines import curate_corpus

    unpersist_tracked()
    docs = spark.createDataFrame(
        [(i, f"doc {i % 7} the quick brown fox " * 4) for i in range(40)],
        "doc_id long, text string",
    )
    cm = spark._jsparkSession.sharedState().cacheManager()
    qa: dict = {}
    with PqlEngine(spark):
        curate_corpus(docs, min_quality=0.0, langs=None, qa=qa)
        persists = list(_TRACKED_PERSISTS)
        assert len(persists) >= 3
        counts = qa["stage_counts"]
        counts.collect()
        assert all(cm.lookupCachedData(p._jdf).isDefined() for p in persists)
        plan = counts._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
        assert not [
            t.name for t in spark.catalog.listTables()
            if t.name.lower().startswith(("__sq_", "__pql_"))
        ]


def test_curate_rejects_non_string_langs(spark):
    from pql_spark.pipelines import curate_corpus

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(TypeError, match="langs"):
        curate_corpus(docs, langs=["en", 3])
