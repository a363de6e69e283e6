"""COMPUTE_ONCE declarations and the CTE materializer's view lifecycle.

Templates name the CTEs Spark must compute once (queries_registry
COMPUTE_ONCE); the default runner hands them to
cte_materialize.run_sql_materialized, which registers each under a unique
``<cte>_<12 hex>`` temp view and drops it once the statement is analyzed.
"""

import os
import re
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

_UNIQUE_VIEW = re.compile(r"_[0-9a-f]{12}$")


def _unique_views(spark) -> list[str]:
    return [
        t.name for t in spark.catalog.listTables()
        if t.isTemporary and _UNIQUE_VIEW.search(t.name)
    ]


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


def test_sql_dropping_drops_view_when_body_fails(spark):
    from oaim_sandbox_spark.queries_core import _materialized_view, _sql_dropping

    view = _materialized_view(spark, "SELECT 1 AS x", "failing")
    with pytest.raises(AnalysisException):
        _sql_dropping(spark, f"SELECT no_such_column FROM {view}", view)
    assert not spark.catalog.tableExists(view)


def test_compute_once_entries_and_a_failure_leave_no_views(spark):
    """Every declared entry in one session, then a statement whose second
    compute-once body fails analysis after the first was registered."""
    q = Q.spark_queries()
    Q.register_views(spark, SF)
    baseline = _unique_views(spark)
    for name in Q.COMPUTE_ONCE:
        q[name](spark, SF)
    sql = (
        "WITH a AS (SELECT doc_id FROM documents), "
        "b AS (SELECT no_such_column FROM a) "
        "SELECT * FROM a JOIN b ON a.doc_id = b.no_such_column"
    )
    with pytest.raises(AnalysisException):
        run_sql_materialized(spark, sql, once=("a", "b"))
    assert _unique_views(spark) == baseline


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
