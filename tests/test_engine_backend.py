"""PqlEngine backend="sql"/"auto" — the batched compile path (r11).

The SQL path must be bit-equal to the DataFrame compiler, resolve
referenced tables through TRANSIENT collision-proof temp views (r12:
a user's own same-named temp view must survive a query untouched),
honor params, and (auto) fall back to the DataFrame compiler on the
SQL backend's documented refusals instead of erroring — counting the
fallback, and raising on anything that is not a documented refusal
or an analysis failure.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pql_spark import PqlEngine


@pytest.fixture(scope="module")
def tables(spark):
    ev = spark.createDataFrame(
        [(i, f"u{i % 3}", float(i * 7 % 50)) for i in range(40)],
        "event_id long, user string, value double",
    )
    dim = spark.createDataFrame(
        [("u0", "alpha"), ("u1", "beta"), ("u2", "gamma")],
        "user string, team string",
    )
    return {"EV": ev, "DIM": dim}


QUERIES = [
    "EV | where value > 10 | summarize n = count(), s = sum(value)"
    " by user | sort by user asc",
    "EV | join kind=leftouter (DIM) on user | top 5 by value"
    " | project event_id, team",
    "EV | extend bucket = iff(value >= 25, 'hi', 'lo')"
    " | summarize n = count() by bucket | sort by bucket asc",
]


@pytest.mark.parametrize("q", QUERIES)
def test_sql_backend_bit_equal(spark, tables, q):
    df_rows = sorted(
        map(tuple, PqlEngine(spark, resolver=tables).query(q).collect())
    )
    sql_rows = sorted(
        map(
            tuple,
            PqlEngine(spark, resolver=tables, backend="sql")
            .query(q)
            .collect(),
        )
    )
    assert sql_rows == df_rows and len(df_rows) > 0


def test_sql_backend_preserves_user_views(spark, tables):
    # a user temp view named EV must survive the query untouched —
    # the engine resolves through prefixed transient views instead
    user_ev = spark.createDataFrame([(99,)], "sentinel long")
    user_ev.createOrReplaceTempView("EV")
    try:
        eng = PqlEngine(spark, resolver=tables, backend="sql")
        n = eng.query(
            "EV | join kind=inner (DIM) on user | count"
        ).collect()[0][0]
        assert n == 40  # resolver's EV, not the user view
        assert [r.sentinel for r in spark.sql(
            "SELECT * FROM EV"
        ).collect()] == [99]
        # and no transient __pql_* views linger in the catalog
        names = {t.name.lower() for t in spark.catalog.listTables()}
        assert not any(v.startswith("__pql_") for v in names)
    finally:
        spark.catalog.dropTempView("EV")


def test_sql_backend_params(spark, tables):
    eng = PqlEngine(
        spark, resolver=tables, params={"cut": 30}, backend="sql"
    )
    got = eng.query("EV | where value > cut | count").collect()
    want = tables["EV"].filter(F.col("value") > 30).count()
    assert got[0][0] == want


def test_auto_falls_back_on_multi_output(spark, tables):
    # facet is multi-output: compile_to_sql refuses, auto must fall
    # back to the DataFrame compiler's MultiResult
    eng = PqlEngine(spark, resolver=tables, backend="auto")
    res = eng.query(
        "EV | facet by user with ( summarize n = count() )"
    )
    from pql_spark import MultiResult

    assert isinstance(res, MultiResult)


def test_sql_backend_serves_csv_externaldata(spark, tmp_path):
    # r12 (VERDICT r11 item 8): option-bearing externaldata rides the
    # engine's transient-view device on the SQL path — no fallback
    p = tmp_path / "t.csv"
    p.write_text("id,v\n1,2.0\n2,9.5\n")
    eng = PqlEngine(spark, resolver={}, backend="auto")
    q = (
        f'externaldata (id: long, v: real) ["{p}"]'
        ' with (format="csv", header="true") | where v > 5 | project id'
    )
    assert [r.id for r in eng.query(q).collect()] == [2]
    assert eng.sql_fallbacks == 0
    # the transient reader view is dropped after the one spark.sql call
    leftover = [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("__pql_")
    ]
    assert leftover == []


def test_csv_externaldata_backend_equality(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("id|name\n1|aa\n2|bb\n3|cc\n")
    q = (
        f'externaldata (id: long, name: string) ["{p}"]'
        ' with (format="csv", header="true", sep="|")'
        " | extend tag = strcat(name, tostring(id)) | sort by id asc"
    )
    dfb = PqlEngine(spark, resolver={}, backend="df").query(q)
    sqb = PqlEngine(spark, resolver={}, backend="sql").query(q)
    assert dfb.collect() == sqb.collect()
    assert dfb.columns == sqb.columns


def test_json_externaldata_on_sql_backend(spark, tmp_path):
    p = tmp_path / "t.json"
    p.write_text('{"id": 1, "v": "x"}\n{"id": 2, "v": "y"}\n')
    eng = PqlEngine(spark, resolver={}, backend="sql")
    q = (
        f'externaldata (id: long, v: string) ["{p}"]'
        ' with (format="json") | where v == "y" | project id'
    )
    assert [r.id for r in eng.query(q).collect()] == [2]


def test_to_sql_still_refuses_optioned_externaldata(spark, tmp_path):
    # a standalone SQL string cannot carry reader options; the error
    # must point at the engine's transient-view workaround
    p = tmp_path / "t.csv"
    p.write_text("id\n1\n")
    eng = PqlEngine(spark, resolver={}, backend="sql")
    with pytest.raises(Exception, match="transient reader-backed"):
        eng.to_sql(
            f'externaldata (id: long) ["{p}"] with (format="csv")'
        )


def test_unknown_backend_rejected(spark, tables):
    with pytest.raises(ValueError, match="unknown backend"):
        PqlEngine(spark, resolver=tables, backend="fast")


def test_auto_is_default_and_counts_fallbacks(spark, tables):
    eng = PqlEngine(spark, resolver=tables)  # default backend = auto
    assert eng._backend == "auto" and eng.sql_fallbacks == 0
    eng.query("EV | count").collect()
    assert eng.sql_fallbacks == 0  # SQL path handled it
    eng.query("EV | facet by user with ( summarize n = count() )")
    assert eng.sql_fallbacks == 1  # documented refusal, counted


def test_auto_does_not_swallow_unexpected_errors(spark, tables, monkeypatch):
    # only the documented refusal (QueryError) and Spark analysis
    # failures may fall back; an unexpected error class would hide an
    # SQL-backend bug behind the silent slow path — it must propagate
    import pql_spark.sql_backend as sb

    def boom(*a, **k):
        raise RuntimeError("injected sql-backend bug")

    monkeypatch.setattr(sb, "compile_to_sql", boom)
    eng = PqlEngine(spark, resolver=tables, backend="auto")
    with pytest.raises(RuntimeError, match="injected"):
        eng.query("EV | count")
    assert eng.sql_fallbacks == 0


def test_unknown_table_same_error_both_backends(spark):
    # resolver misses surface as the compiler's QueryError ("unknown
    # table"), never a raw KeyError — on every backend
    from pql_spark.parser import QueryError

    for backend in ("df", "sql", "auto"):
        eng = PqlEngine(spark, resolver={}, backend=backend)
        with pytest.raises(QueryError, match="unknown table"):
            eng.query("NoSuchTable | count")
