"""Round-14 optimization pins: every perf change must leave results
bit-identical.

1. ``hard_negative_mining`` restructure (the rank window orders by the
   projected ``distance`` COLUMN instead of re-keying on the round(dist)
   EXPRESSION — one dot fold per pair instead of two) is pinned against the
   FROZEN pre-change DuckDB oracle SQL.
2. ``_embedding_pairs_core``'s localCheckpoint barrier (the threshold filter
   used to be pushed into the vnorm join condition, evaluating the dot fold
   twice per candidate) is pinned by plan shape; rows are covered by the
   standing oracle sweep.
3. ``_np_cell_scores``' element-null handling (ADVICE r13): vectors of the
   right length containing a NULL element must reproduce the SQL padding
   semantics (COSINE -> 1.0, EUCLIDEAN/DOT -> NULL), while a true NaN double
   propagates to a NaN distance on both paths.
4. ``search_batch`` with a ``pair_where`` referencing the store/query vector
   columns (ADVICE r13) must fall back to the JVM join path and return its
   rows instead of raising AnalysisException.
"""

import json
import math
import sys
from pathlib import Path

import pytest
from conftest import SF_SMALL
from pyspark.sql import functions as F

import oaim_sandbox_spark.operators.ann as ann
from oaim_sandbox_spark.operators.ann import IVFIndex, _np_cell_scores, _np_query_cells

SF01 = "/root/testdata/sf0.01"


def test_hard_negative_mining_matches_frozen_oracle(spark):
    """New Spark output == frozen pre-change DuckDB oracle, cell for cell,
    with the driver-strict canonicalization of tools/check_correctness."""
    import duckdb

    root = Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(root / "tools"))
    from check_correctness import canonical

    from oaim_sandbox_spark import queries as Q

    old = json.loads(
        (root / "tests/fixtures/r14_window_dist_old_oracle.json").read_text()
    )
    duck = duckdb.connect()
    duck.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{SF01}/embeddings.parquet'")
    sdf = Q.spark_queries()["hard_negative_mining"](spark, SF01)
    got = canonical([tuple(r) for r in sdf.collect()], sdf.columns)
    rel = duck.sql(old["hard_negative_mining"])
    want = canonical(rel.fetchall(), rel.columns)
    assert got and got == want


def test_hard_negative_mining_single_fold_plan(spark):
    """Exactly ONE dot fold per pair in the physical plan (the pre-r14 shape
    projected it twice: once as `distance`, once as the `_w1` window key)."""
    from oaim_sandbox_spark import queries as Q

    df = Q.spark_queries()["hard_negative_mining"](spark, SF01)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("aggregate(zip_with") == 1, plan.count("aggregate(zip_with")


def test_embedding_pairs_filter_reads_checkpointed_column(spark):
    """The returned plan reads the checkpointed scored relation: the
    threshold filter compares the materialized cosine_sim column, and no
    dot fold appears above the barrier (pre-r14 the filter was pushed into
    the vnorm join condition — two folds per candidate pair)."""
    from oaim_sandbox_spark import queries as Q

    df = Q.spark_queries()["embedding_cosine_pairs"](spark, SF01)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "aggregate(zip_with" not in plan
    assert "cosine_sim" in plan and "ExistingRDD" in plan


def _planted_store_with_pathological_vectors(spark):
    """(store with centroid col, dim): normal vectors plus a NULL-element
    vector, an all-NULL vector, a ragged vector, a zero vector, and a true
    NaN vector — the full padding-semantics surface."""
    base = spark.range(40).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 2).cast("int").alias("centroid"),
        F.expr(
            "transform(sequence(0, 7), i -> cast(hash(id, i) % 1000 as double) / 250.0)"
        ).alias("v"),
    )
    patho = spark.sql(
        """
        SELECT * FROM VALUES
          (1001L, 0, array(1.0D, 2.0D, CAST(NULL AS DOUBLE), 4.0D, 5.0D, 6.0D, 7.0D, 8.0D)),
          (1002L, 1, CAST(NULL AS ARRAY<DOUBLE>)),
          (1003L, 0, array(1.0D, 2.0D, 3.0D)),
          (1004L, 1, array(0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D)),
          (1005L, 0, array(1.0D, CAST('NaN' AS DOUBLE), 3.0D, 4.0D, 5.0D, 6.0D, 7.0D, 8.0D))
        AS t(vec_id, centroid, v)
        """
    )
    return base.unionByName(patho), 8


@pytest.mark.parametrize("metric", ["COSINE", "EUCLIDEAN_DISTANCE", "DOT_PRODUCT"])
def test_np_scorer_pathological_vectors_match_sql(spark, metric):
    """_np_cell_scores on null-element / all-null / ragged / zero / NaN
    vectors == the SQL fold expressions it replaces, NaN compared as NaN."""
    import numpy as np

    from oaim_sandbox_spark.functions import portable as P
    from oaim_sandbox_spark.operators.retrieval import distance_expr

    store, dim = _planted_store_with_pathological_vectors(spark)
    qmat = np.asarray(
        [[float(j + i) for i in range(dim)] for j in range(3)], dtype=np.float64
    )
    qids = [100, 101, 102]
    probes = [[0, 1], [0, 1], [1, 0]]
    cells = _np_query_cells(qids, qmat, probes, "BIGINT", carry_rank=False)
    got_df = _np_cell_scores(store, "v", cells, metric, "BIGINT").selectExpr(
        "vec_id", "query_id",
        "CASE WHEN __ivf_dnan THEN double('NaN') ELSE __ivf_rawdist END AS d",
    )
    got = {(r["vec_id"], r["query_id"]): r["d"] for r in got_df.collect()}

    # JVM reference: the broadcast-join fold path (per-pair expressions)
    qrows = [
        (int(q), int(c), [float(x) for x in qv])
        for q, qv, row in zip(qids, qmat, probes)
        for c in row
    ]
    qdf = spark.createDataFrame(qrows, "query_id BIGINT, centroid INT, qv ARRAY<DOUBLE>")
    if metric == "COSINE":
        dist = P.cosine_distance("v", "qv", "spark")
    elif metric == "EUCLIDEAN_DISTANCE":
        dist = P.euclidean_distance("v", "qv", "spark")
    else:
        dist = distance_expr("v", "qv", metric)
    want_df = store.join(F.broadcast(qdf), "centroid").selectExpr(
        "vec_id", "query_id", f"{dist} AS d"
    )
    want = {(r["vec_id"], r["query_id"]): r["d"] for r in want_df.collect()}

    assert set(got) == set(want) and got
    for k in want:
        g, w = got[k], want[k]
        if w is None or g is None:
            assert g is None and w is None, (k, g, w)
        elif isinstance(w, float) and math.isnan(w):
            assert math.isnan(g), (k, g, w)
        else:
            assert g == w, (k, g, w)
    # the planted rows exercised every branch
    assert any(k[0] == 1001 for k in got) and any(k[0] == 1005 for k in got)


def _plan_text(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_cte_scanner_tracks_comments_and_double_quotes(spark):
    """split_with_clause must not mis-split on `--` comments or double-quoted
    identifiers containing unbalanced parens/quotes (ADVICE r13), and
    run_sql_materialized must return the correct rows for such statements."""
    from oaim_sandbox_spark import queries as Q
    from oaim_sandbox_spark.cte_materialize import run_sql_materialized, split_with_clause

    Q.register_views(spark, SF01)
    sql = (
        "WITH a AS (SELECT doc_id, -- don't trip on this ( comment\n"
        '  concat("odd ( string", cast(doc_id AS STRING)) AS t\n'
        "  FROM documents WHERE doc_id < 7)\n"
        "SELECT x.doc_id FROM a x JOIN a y ON x.doc_id = y.doc_id ORDER BY x.doc_id"
    )
    parsed = split_with_clause(sql)
    assert parsed is not None and parsed[0][0][0] == "a"
    assert parsed[0][0][1].rstrip().endswith("doc_id < 7")
    got = [r[0] for r in run_sql_materialized(spark, sql).collect()]
    assert got == [r[0] for r in spark.sql(sql).collect()] and len(got) == 7


def test_cte_unmaterialized_statement_runs_original_text(spark):
    """When no CTE qualifies (the default 1 GiB floor at test scale), the
    ORIGINAL statement text is executed — not a reconstruction — so parser
    round-trip fidelity can never alter a certified query (ADVICE r13)."""
    from unittest.mock import patch

    from oaim_sandbox_spark import queries as Q
    from oaim_sandbox_spark.cte_materialize import run_sql_materialized

    Q.register_views(spark, SF01)
    sql = Q.TEMPLATES["funnel_conversion"]("spark")
    seen = []
    orig = type(spark).sql

    def spy(self, text, **kw):
        seen.append(text)
        return orig(self, text, **kw)

    with patch.object(type(spark), "sql", spy):
        run_sql_materialized(spark, sql)
    assert seen == [sql]


def test_cte_nondeterministic_body_never_materialized(spark):
    """A CTE whose body calls a nondeterministic function (rand/uuid/...)
    referenced k times computes k independent samples inlined but ONE shared
    sample materialized — the guard must refuse to materialize it even below
    the size floor (VERDICT r13 #6)."""
    from unittest.mock import patch

    from oaim_sandbox_spark import queries as Q
    from oaim_sandbox_spark.cte_materialize import MIN_INPUT_BYTES_CONF, run_sql_materialized

    Q.register_views(spark, SF01)
    sql = (
        "WITH s AS (SELECT doc_id FROM documents WHERE rand(7) < 2.0) "
        "SELECT COUNT(*) FROM (SELECT doc_id FROM s UNION ALL SELECT doc_id FROM s) t"
    )
    spark.conf.set(MIN_INPUT_BYTES_CONF, "0")
    seen = []
    orig = type(spark).sql

    def spy(self, text, **kw):
        seen.append(text)
        return orig(self, text, **kw)

    try:
        with patch.object(type(spark), "sql", spy):
            out = run_sql_materialized(spark, sql)
        # nothing materialized: exactly one statement, the original text
        assert seen == [sql]
        assert out.first()[0] == spark.sql(sql).first()[0]
    finally:
        spark.conf.unset(MIN_INPUT_BYTES_CONF)


def test_cte_comma_join_references_counted(spark):
    """`FROM a, name` comma-join references must count toward the >=2
    threshold (VERDICT r13 #6: the old FROM/JOIN-only pattern under-counted
    and silently skipped the optimization)."""
    from oaim_sandbox_spark import queries as Q
    from oaim_sandbox_spark.cte_materialize import (
        MIN_INPUT_BYTES_CONF,
        _ref_count,
        run_sql_materialized,
    )

    assert _ref_count("big", ["SELECT * FROM big a, big b"]) == 2
    Q.register_views(spark, SF01)
    sql = (
        "WITH big AS (SELECT doc_id FROM documents WHERE doc_id < 50) "
        "SELECT COUNT(*) FROM big a, big b WHERE a.doc_id = b.doc_id"
    )
    plain = spark.sql(sql)
    spark.conf.set(MIN_INPUT_BYTES_CONF, "0")
    try:
        mat = run_sql_materialized(spark, sql)
        assert "ExistingRDD" in _plan_text(mat)  # big was materialized once
        assert mat.first()[0] == plain.first()[0] == 50
    finally:
        spark.conf.unset(MIN_INPUT_BYTES_CONF)


def test_search_batch_pair_where_on_vector_cols_falls_back(spark, tmp_path):
    """pair_where referencing the store vector (or the un-carried query
    vector) routes to the JVM join path and matches its rows — before the
    r14 gate this raised AnalysisException on the NumPy path."""
    store = spark.range(120).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 7), i -> cast(hash(id, i) % 1000 as double) / 250.0)"
        ).alias("embedding"),
    )
    idx = IVFIndex(n_centroids=4, seed=7, max_iter=4).fit(store)
    path = str(tmp_path / "ivf")
    idx.write_partitioned(store, path, compact=True)
    qdf = store.filter("vec_id % 13 = 0").select(
        F.col("vec_id").alias("query_id"),
        F.expr("cast(embedding as array<double>)").alias("query_vec"),
    )
    pw = "size(embedding) = 8 AND vec_id <> query_id"

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    got = rows(idx.search_batch(spark, path, qdf, k=4, nprobe=2, pair_where=pw))
    saved = ann._NP_SCORE_METRICS
    ann._NP_SCORE_METRICS = ()
    try:
        want = rows(idx.search_batch(spark, path, qdf, k=4, nprobe=2, pair_where=pw))
    finally:
        ann._NP_SCORE_METRICS = saved
    assert got == want and got


def test_approx_vocab_overlap_matches_frozen_output(spark):
    """The r14 single-pass audit runner (distinct (source,g) materialized
    once, feeding BOTH the MinHash signatures and the exact matrix) returns
    the exact pre-change output: the frozen fixture was collected from the
    multiset-signature + inline-template tree at 9913ed1. MIN over the
    distinct vocabulary == MIN over the token multiset, so signatures are
    bit-identical by construction; this pins the whole audited frame."""
    from oaim_sandbox_spark.queries_registry import _approx_vocab_overlap_spark

    root = Path(__file__).resolve().parents[1]
    old = json.loads((root / "tests/fixtures/r14_avocab_old_output.json").read_text())
    for sf in ("sf0.001", "sf0.01"):
        sfd = str(Path(SF_SMALL).with_name(sf))
        got = [list(r) for r in _approx_vocab_overlap_spark(spark, sfd).collect()]
        assert got == old[sf], (sf, got[:3], old[sf][:3])


def test_approx_vocab_overlap_drops_view_when_a_collect_raises(spark, monkeypatch):
    """The materialized (source, g) view is dropped even when a query
    reading it fails."""
    from oaim_sandbox_spark import queries_extended as QE
    from oaim_sandbox_spark.queries_registry import approx_vocab_overlap

    def views():
        return {t.name for t in spark.catalog.listTables() if t.name.startswith("avocab_sg")}

    before = views()
    monkeypatch.setattr(QE, "_source_vocab_final_sql",
                        lambda dialect, rel=None: f"SELECT no_such_column FROM {rel}")
    with pytest.raises(Exception, match="no_such_column"):
        approx_vocab_overlap(spark, SF_SMALL, audit=True)
    assert views() == before


def test_approx_vocab_overlap_sigs_multiset_equals_distinct(spark):
    """The identity the single-pass rewrite rests on: per-source MinHash
    MINs over the raw token multiset equal MINs over the DISTINCT (source,
    token) vocabulary (min ignores multiplicity; the permuted hash depends
    only on the token)."""
    from oaim_sandbox_spark.functions import portable as P
    from oaim_sandbox_spark.queries_core import register_views
    from oaim_sandbox_spark.queries_extended import (
        _source_vocab_sg_sql,
        _source_vocab_tok_sql,
    )

    register_views(spark, "/root/testdata/sf0.001", tables=("documents",))
    h = P.hash_mod("g", "spark")
    mins = ", ".join(
        f"MIN(({a}L * h + {b}L) % {P.MOD}) AS m{i}"
        for i, (a, b) in ((i, P._perm_constants(i)) for i in range(16))
    )
    multiset = spark.sql(
        f"SELECT source, {mins} FROM (SELECT source, {h} AS h FROM "
        f"({_source_vocab_tok_sql('spark')}) t0) t GROUP BY source ORDER BY source"
    ).collect()
    distinct = spark.sql(
        f"SELECT source, {mins} FROM (SELECT source, {h} AS h FROM "
        f"({_source_vocab_sg_sql('spark')}) t0) t GROUP BY source ORDER BY source"
    ).collect()
    assert [tuple(r) for r in multiset] == [tuple(r) for r in distinct]


def test_federated_label_topk_matches_frozen_oracle_single_fold(spark):
    """The r14 window-key restructure (rank window orders by the PROJECTED
    distance column, not the round(dist) expression — the
    hard_negative_mining pattern): new Spark output == frozen pre-change
    DuckDB oracle, and the executed plan evaluates exactly ONE cosine fold
    per store row (the old shape carried two)."""
    import duckdb

    root = Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(root / "tools"))
    from check_correctness import canonical

    from oaim_sandbox_spark import queries as Q

    old = json.loads(
        (root / "tests/fixtures/r14_federated_old_oracle.json").read_text()
    )
    duck = duckdb.connect()
    duck.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{SF01}/embeddings.parquet'")
    sdf = Q.spark_queries()["federated_label_topk"](spark, SF01)
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    assert plan.count("aggregate(zip_with") == 1
    got = canonical([tuple(r) for r in sdf.collect()], sdf.columns)
    rel = duck.sql(old["federated_label_topk"])
    want = canonical(rel.fetchall(), rel.columns)
    assert got and got == want
