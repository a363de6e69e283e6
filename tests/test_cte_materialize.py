"""COMPUTE_ONCE declarations and the CTE materializer's view lifecycle.

Templates name the CTEs Spark must compute once (queries_registry
COMPUTE_ONCE); the default runner hands them to
cte_materialize.run_sql_materialized, which registers each under a unique
``<cte>_<12 hex>`` temp view and drops it once the statement is analyzed.
Every registry runner leaves the session's temp views and streams as it
found them, also when it raises.
"""

import os
import sys

import pytest
from conftest import SF_SMALL as SF
from pyspark.errors import AnalysisException

from oaim_sandbox_spark import queries as Q
from oaim_sandbox_spark.cte_materialize import (
    _NONDET_RE,
    run_sql_materialized,
    split_with_clause,
)

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_compute_once_declarations_are_deterministic_template_ctes():
    assert Q.COMPUTE_ONCE
    for name, once in Q.COMPUTE_ONCE.items():
        assert name in Q.TEMPLATES, name
        assert name not in Q.SPARK_OVERRIDES, name
        parsed = split_with_clause(Q.TEMPLATES[name]("spark"))
        assert parsed is not None, name
        bodies = dict(parsed[0])
        for cte in once:
            assert cte in bodies, f"{name}: {cte} is not a top-level CTE"
            assert not _NONDET_RE.search(bodies[cte]), f"{name}: {cte} is nondeterministic"


def test_missing_compute_once_name_raises():
    # raised before any Spark call: a renamed CTE must not turn into a re-run
    sql = "WITH a AS (SELECT 1 AS x) SELECT * FROM a"
    with pytest.raises(ValueError, match="renamed"):
        run_sql_materialized(None, sql, once=("a", "renamed"))
    with pytest.raises(ValueError, match=r"\['a'\]"):
        run_sql_materialized(None, "SELECT 1 AS x", once=("a",))


def test_fingerprint_moves_with_compute_once_declaration(monkeypatch):
    from plan_audit import query_fingerprint

    name = "winnowing_fingerprints"
    before = query_fingerprint(name)
    monkeypatch.setitem(Q.COMPUTE_ONCE, name, ())
    assert query_fingerprint(name) != before


def test_scope_drops_view_when_body_fails(spark):
    from oaim_sandbox_spark.materialize import scope

    with pytest.raises(AnalysisException):
        with scope(spark) as s:
            view = s.view(s.relation(spark.sql("SELECT 1 AS x"), "failing"), "failing")
            spark.sql(f"SELECT no_such_column FROM {view}")
    assert not spark.catalog.tableExists(view)


def test_compute_once_entries_and_a_failure_leave_no_views(spark, monkeypatch):
    """Every declared entry, every Spark override and every rows-only entry
    in one session, each result collected after its runner returned, then
    two injected failures: a statement whose second compute-once body fails
    analysis after the first was registered, and a streaming runner whose
    stream fails. Temp views (memory-sink views included) and active
    streams return to baseline."""
    from pyspark.sql import functions as F

    from oaim_sandbox_spark import queries_registry as QR

    q = Q.spark_queries()
    Q.register_views(spark, SF)
    baseline = _temp_views(spark)
    assert not spark.streams.active
    for name in sorted(set(Q.COMPUTE_ONCE) | set(Q.SPARK_OVERRIDES) | set(Q.NON_ORACLE)):
        q[name](spark, SF).collect()
        assert _temp_views(spark) == baseline, name
        assert not spark.streams.active, name
    sql = (
        "WITH a AS (SELECT doc_id FROM documents), "
        "b AS (SELECT no_such_column FROM a) "
        "SELECT * FROM a JOIN b ON a.doc_id = b.no_such_column"
    )
    with pytest.raises(AnalysisException):
        run_sql_materialized(spark, sql, once=("a", "b"))

    def boom(x):
        raise RuntimeError("injected stream failure")

    real_stream = QR.events_stream
    monkeypatch.setattr(
        QR, "events_stream",
        lambda spark, sf_dir: real_stream(spark, sf_dir).filter(
            F.udf(boom, "boolean")(F.col("event_type"))),
    )
    try:
        with pytest.raises(Exception, match="injected stream failure"):
            q["streaming_hourly_counts"](spark, SF)
    finally:
        leftover = list(spark.streams.active)
        for query in leftover:
            query.stop()
    assert not leftover
    assert _temp_views(spark) == baseline


def test_compute_once_reads_the_materialized_relation(spark):
    """A declared CTE is computed once at any size: the final plan reads
    its checkpoint instead of re-running the filtered scan per reference."""
    Q.register_views(spark, SF)
    sql = (
        "WITH a AS (SELECT doc_id FROM documents WHERE doc_id < 20) "
        "SELECT COUNT(*) FROM a x JOIN a y ON x.doc_id = y.doc_id"
    )
    out = run_sql_materialized(spark, sql, once=("a",))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "< 20" not in plan
    assert "< 20" in spark.sql(sql)._jdf.queryExecution().executedPlan().toString()
    assert out.first()[0] == spark.sql(sql).first()[0] == 20
