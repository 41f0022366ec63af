"""Shared operator utilities."""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager
from uuid import uuid4

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def rebalance(df: DataFrame) -> DataFrame:
    """Spread a under-partitioned input across the cluster's cores.

    Small single-file tables arrive as ONE input split, which would
    serialize every narrow stage of a compute-heavy operator onto one
    core.  A round-robin repartition to the default parallelism costs
    one small shuffle and buys full-width execution — the same layout a
    real multi-split dataset gets for free.  No-op when the input is
    already parallel enough (the 100 TB case: thousands of splits).

    The width probe must NOT execute the plan: ``df.rdd
    .getNumPartitions()`` under AQE materializes query stages — on a
    composed input it ran the caller's whole upstream chain as an
    extra job (measured 2.4 s at sf0.1 inside curate_corpus) before
    the caller executed it again.  Instead, two job-free checks: a
    leaf file count ≥ cores means the scan alone is wide, and any
    Exchange / InMemoryTableScan in the compiled physical plan means
    a shuffle (or a cached post-shuffle layout) already widens the
    plan to ``spark.sql.shuffle.partitions``."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        if len(df.inputFiles()) >= target:
            return df
        plan = df._jdf.queryExecution().sparkPlan().toString()
        if "Exchange" in plan or "InMemoryTableScan" in plan:
            return df
    except Exception:  # noqa: BLE001 — non-SQL-backed plans: play safe
        pass
    return df.repartition(target)


@contextmanager
def transient_views(spark: SparkSession) -> Iterator[Callable[..., str]]:
    """The library's one temp-view lifecycle.

    Yields ``view(alias, frame=None)``, which returns the scope's view
    name for ``alias`` (``__pql_<hex>_<alias>``, fresh per scope) and,
    given a frame, registers the frame under it.  Naming and
    registering can happen apart: a compiler can emit the names first
    and the frames be registered after; a memory sink registers its
    reserved name itself.  Every name is dropped on exit.  The body
    runs its ONE ``spark.sql`` inside the block: analysis is eager, so
    the returned DataFrame keeps its resolved plan and no longer needs
    the names.

    The drop goes through the session catalog, which removes the name
    only.  ``spark.catalog.dropTempView`` would also uncache every
    cache entry whose plan matches the view's, evicting the caller's
    persisted inputs and the pipelines' tracked persists (so does the
    parameterized ``spark.sql(text, df=frame)`` form, whose formatter
    drops its views that way)."""
    catalog = spark._jsparkSession.sessionState().catalog()
    scope = uuid4().hex[:12]
    names: dict[str, str] = {}

    def view(alias: str, frame: DataFrame | None = None) -> str:
        name = names.setdefault(alias, f"__pql_{scope}_{alias}")
        if frame is not None:
            frame.createOrReplaceTempView(name)
        return name

    try:
        yield view
    finally:
        for name in names.values():
            catalog.dropTempView(name)


def sql_over(frames: dict[str, DataFrame], sql_fmt: str) -> DataFrame:
    """Run ONE ``spark.sql`` over transient views of the given frames.

    ``sql_fmt`` references each frame by ``{alias}``.  Driver-cost
    device (r16, guide §4's Python-boundary tax in its driver-side
    form): a chain of N DataFrame operations pays N py4j round trips
    AND N eager JVM analysis passes while building a plan; registering
    the input frames as temp views and parsing the whole downstream as
    one SQL statement yields the same analyzed tree in ONE pass.  The
    views are dropped before returning (see :func:`transient_views`),
    so no call leaves a catalog entry behind and none evicts a cache
    entry."""
    spark = next(iter(frames.values())).sparkSession
    with transient_views(spark) as view:
        names = {alias: view(alias, frame) for alias, frame in frames.items()}
        return spark.sql(sql_fmt.format(**names))


_TRACKED_PERSISTS: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` registered for later bulk eviction.

    Operators that persist an intermediate reused across several
    downstream branches (e.g. the shingle inverted index in the PPJoin
    path) return a LAZY result — they cannot unpersist before the
    caller materializes it, and Spark never auto-evicts cached plans.
    In a long session repeated calls would otherwise accumulate cached
    blocks in executor storage.  Callers (or test/bench harnesses) call
    :func:`unpersist_tracked` — or ``spark.catalog.clearCache()`` —
    once results are materialized."""
    _TRACKED_PERSISTS.append(df.persist())
    return df


def unpersist_tracked() -> int:
    """Evict every DataFrame registered via :func:`tracked_persist`;
    returns how many persists were released.  Safe at any time: Spark
    recomputes an evicted plan on next use."""
    n = len(_TRACKED_PERSISTS)
    while _TRACKED_PERSISTS:
        try:
            _TRACKED_PERSISTS.pop().unpersist(blocking=False)
        except Exception:  # noqa: BLE001 — session already stopped
            pass
    return n


def pinned_filter(df: DataFrame, cond) -> DataFrame:
    """``df.filter(cond)`` WITHOUT predicate pushdown.

    Catalyst pushes filters below projections by SUBSTITUTING the
    referenced column's defining expression into the predicate — for a
    cheap predicate over an expensive derived column that (a) evaluates
    the whole tree twice (once in the sunk Filter, once in the Project
    above) and (b) can sink the tree below a repartition onto the
    narrow single-split pre-shuffle stage, serializing it on one core.
    Measured on the curation chain at sf0.1: quality/repetition filters
    went 0.8 s → 4.6 s from exactly this.

    The always-true ``spark_partition_id() >= 0`` guard marks the
    predicate non-deterministic, which pins the Filter exactly where
    it was written; the projection below stays collapsed and its tree
    evaluates ONCE per row.  (``rand() >= 0`` does NOT work — the
    optimizer range-folds it back to a deterministic predicate; the
    partition id is free to evaluate and survives optimization.)  Use
    only when the predicate references expensive computed columns —
    for scan-column predicates pushdown is the optimization, not the
    bug."""
    return df.filter(
        F.when(F.spark_partition_id() >= 0, cond).otherwise(F.lit(False))
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Equi-join resilient to extreme key skew.

    When one join-key value dominates (the classic SIEM/user-activity
    hot key), a plain hash join puts that key's entire partition on one
    task.  AQE's skew-join splitting handles moderate skew; for the
    pathological case this spreads the LEFT side over ``salt``
    sub-partitions (deterministic hash of the whole row) and replicates
    the matching RIGHT rows to every sub-partition, so the hot key runs
    on ``salt`` tasks instead of one.  Result is exactly the plain
    join's (verified by tests); cost is ``salt``× replication of the
    right side — use with a small-to-medium right side.
    """
    if how not in ("inner", "left", "leftouter"):
        raise ValueError(f"salted_join supports inner/left joins, got {how!r}")
    salt_l = left.withColumn(
        "__salt", F.pmod(F.xxhash64(*left.columns), F.lit(salt))
    )
    salt_r = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    ).withColumn("__salt", F.col("__salt").cast("bigint"))
    out = salt_l.join(salt_r, [on, "__salt"], how)
    return out.drop("__salt")
