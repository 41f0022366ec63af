"""Public API: compile and run PQL on Spark.

Mirrors the reference's two entry points (``pql.Compile`` / ``parser.Parse``,
pql.go:18-30) with a Spark-native result: ``PqlEngine.query(text)`` returns
a lazy DataFrame — Catalyst plans it, nothing executes until an action.
"""

from __future__ import annotations

import logging
from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession

from .compiler import Compiler, MultiResult, Resolver
from .parser import parse

__all__ = ["MultiResult", "PqlEngine", "compile_pql", "parse"]

logger = logging.getLogger(__name__)


class PqlEngine:
    """Compile PQL pipelines to Spark DataFrames.

    ``resolver`` maps table names to DataFrames: a dict, a callable, or
    None (falls back to ``spark.table`` — temp views / catalog tables).
    ``params`` mirrors the reference's ``CompileOptions.Parameters``
    (pql.go:25-30): identifiers substituted at compile time, bound here as
    typed literal values.

    ``backend`` picks the compile path for :meth:`query`:

    * ``"auto"`` (default since r12) — try ``"sql"``, fall back to
      ``"df"`` on the constructs the SQL backend honestly refuses
      (schema-less ``pivot``/``bag_unpack``, ``ipv*_lookup
      return_unmatched``, ``pack_all()``, multi-output
      ``facet``/``fork``; since r12 ``externaldata`` csv/json rides
      the same transient-view device and no longer falls back —
      only bare ``to_sql()`` still refuses it).  Fallbacks are
      counted on :attr:`sql_fallbacks`; an unexpected one (emitted SQL
      failing Spark analysis — a backend bug, not a documented
      refusal) is also logged at WARNING so silent perf regressions
      are observable.
    * ``"sql"`` — compile to one Spark SQL string and submit it with a
      SINGLE ``spark.sql`` call.  Python compile time drops from ~0.25 s
      to ~1 ms on deep pipelines (the DataFrame path pays one py4j
      round-trip per Column op — ~1000 on a sequence_detect-class
      query); results are bit-identical (backend-equality tested).
      Side effect: each referenced table is registered as a temp view
      under a collision-proof ``__pql_<hex>_<name>`` name for the
      duration of the ONE ``spark.sql`` call, then dropped from the
      session catalog — user temp views of the same name are never
      touched, and no cache entry is evicted (a persisted resolver
      frame stays cached across queries).
    * ``"df"`` — the DataFrame compiler: one Column-expression
      tree per operator, zero catalog side effects.
    """

    def __init__(
        self,
        spark: SparkSession,
        resolver: Resolver | Mapping[str, DataFrame] | None = None,
        params: Mapping[str, object] | None = None,
        backend: str = "auto",
    ):
        if backend not in ("df", "sql", "auto"):
            raise ValueError(f"unknown backend {backend!r}")
        self.spark = spark
        self._resolver = _as_resolver(spark, resolver)
        self._params = dict(params or {})
        self._backend = backend
        #: number of times backend="auto" fell back to the DataFrame
        #: path (documented refusals + analysis failures combined)
        self.sql_fallbacks = 0

    def close(self) -> int:
        """Release persists only: drain the PROCESS-GLOBAL
        tracked-persist registry (see
        ``operators._util.tracked_persist``) so a long-lived session
        does not pile up cached blocks in executor storage.  The
        registry is shared by every engine and pipeline in the
        process — closing one engine evicts blocks persisted by all
        of them (they stay usable; Spark recomputes evicted plans on
        next use, a perf cost only).  Matches the bench/test usage of
        one drain per query; hold eviction until the last live engine
        closes if several share heavy cached state.  Returns the
        number of persists evicted.  Safe to call repeatedly.  There
        are no views to release: every query drops its own."""
        from .operators._util import unpersist_tracked

        return unpersist_tracked()

    def __enter__(self) -> "PqlEngine":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def query(
        self, text: str, params: Mapping[str, object] | None = None
    ) -> DataFrame:
        """Parse + compile one PQL query; returns a lazy DataFrame."""
        merged = dict(self._params)
        if params:
            merged.update(params)
        if self._backend in ("sql", "auto"):
            try:
                return self._query_via_sql(text, merged)
            except Exception as e:
                if self._backend == "sql":
                    raise
                # auto: fall back ONLY on the documented refusal type
                # (QueryError from the SQL compiler) and Spark analysis
                # failures; anything else (a bad parameter binding, an
                # injected bug) would hide an SQL-backend defect behind
                # the silent slow path, so it raises instead of
                # degrading.  Analysis failures are usually USER errors
                # (unknown column — the DataFrame path raises the same
                # AnalysisException), so the backend-bug warning only
                # fires when the DataFrame path SUCCEEDS where the
                # emitted SQL did not.
                from pyspark.errors import AnalysisException

                from .parser import QueryError

                if isinstance(e, QueryError):
                    self.sql_fallbacks += 1
                    logger.debug(
                        "sql backend refused, using DataFrame path: %s", e
                    )
                elif isinstance(e, AnalysisException):
                    self.sql_fallbacks += 1
                    df = compile_pql(text, self._resolver, merged)
                    logger.warning(
                        "sql backend emitted SQL that failed Spark"
                        " analysis but the DataFrame path succeeded"
                        " (likely a pql_spark bug — the fallback masks"
                        " a perf regression): %s", e,
                    )
                    return df
                else:
                    raise
        return compile_pql(text, self._resolver, merged)

    def _query_via_sql(self, text: str, params: dict) -> DataFrame:
        """The batched compile path: PQL → one SQL string → ONE
        ``spark.sql`` call.  Each referenced table (and each
        option-bearing csv/json ``externaldata`` source) is registered
        as a transient view under a fresh ``__pql_<hex>_<name>`` name —
        never the bare table name, so a user's own temp view of that
        name survives untouched — and dropped when ``spark.sql``
        returns (see ``operators._util.transient_views``)."""
        from .compiler import externaldata_df
        from .operators._util import transient_views
        from .sql_backend import compile_to_sql

        with transient_views(self.spark) as view:
            tables: set[str] = set()
            ext_srcs: list = []

            def view_name(name: str) -> str:
                tables.add(name)
                return view(name)

            def ext_view(src) -> str:
                ext_srcs.append(src)
                return view(f"ed{len(ext_srcs) - 1}")

            sql = compile_to_sql(
                text, lambda name: self._resolver(name).columns, params,
                width=self.spark.sparkContext.defaultParallelism,
                view_name_of=view_name,
                externaldata_view_of=ext_view,
            )
            for name in tables:
                view(name, self._resolver(name))
            for i, src in enumerate(ext_srcs):
                view(f"ed{i}", externaldata_df(self.spark, src))
            return self.spark.sql(sql)

    def to_sql(
        self, text: str, params: Mapping[str, object] | None = None
    ) -> str:
        """Compile to a Spark SQL string (the reference's Compile API
        shape, pql.go:18-30); run it with ``spark.sql`` against the same
        tables registered as views."""
        from .sql_backend import compile_to_sql

        merged = dict(self._params)
        if params:
            merged.update(params)
        return compile_to_sql(
            text, lambda n: self._resolver(n).columns, merged,
            width=self.spark.sparkContext.defaultParallelism,
        )

    def to_sql_multi(
        self, text: str, params: Mapping[str, object] | None = None
    ) -> dict[str, str]:
        """Compile a multi-output (``facet``/``fork``) query to one
        Spark SQL string per output table; single-output queries come
        back as ``{"main": sql}``."""
        from .sql_backend import compile_to_sql_multi

        merged = dict(self._params)
        if params:
            merged.update(params)
        return compile_to_sql_multi(
            text, lambda n: self._resolver(n).columns, merged
        )


def _as_resolver(
    spark: SparkSession,
    resolver: Resolver | Mapping[str, DataFrame] | None,
) -> Resolver:
    if resolver is None:
        return spark.table
    if callable(resolver):
        return resolver
    mapping = dict(resolver)

    def lookup(name: str) -> DataFrame:
        if name not in mapping:
            raise KeyError(name)
        return mapping[name]

    return lookup


def compile_pql(
    text: str,
    resolver: Resolver,
    params: Mapping[str, object] | None = None,
) -> DataFrame:
    statements = parse(text)
    compiler = Compiler(
        source=text, resolver=resolver, params=dict(params or {})
    )
    return compiler.compile_statements(statements)
