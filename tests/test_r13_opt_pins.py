"""Round-13 optimization pins: every perf change must leave results
bit-identical.

1. ``cosine_distance_prenorm`` (norms materialized per row before a pair
   join) must equal the original per-pair ``cosine_distance`` double for
   double, including the zero-vector nullif/coalesce guard.
2. ``knn_join`` / ``lsh_knn_join`` / ``IVFIndex.search_batch`` after the
   r13 rewrites (prenorm factoring, Arrow query transfer, pandas-built
   probe frame, compact partitioned writes) must return exactly the rows
   the pre-optimization plan shapes returned — pinned here against a
   straight re-computation of the original expressions.
"""


import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from oaim_sandbox_spark.functions import portable as P
from oaim_sandbox_spark.operators.ann import IVFIndex, knn_join, lsh_knn_join

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet")
    # plant the guard edge cases the optimization must preserve: a zero
    # vector (cosine guard -> distance exactly 1.0) on both sides
    dim = len(df.select("embedding").first()[0])
    zero = spark.sql(
        f"SELECT 900001L AS vec_id, transform(sequence(1, {dim}), x -> cast(0.0 as float)) "
        "AS embedding, 0 AS label"
    )
    return df.unionByName(zero)


def test_prenorm_cosine_bit_identical_on_pairs(spark, emb):
    """Factored norms == per-pair norms, double for double, on every pair of
    a 60x60 self-join including the planted zero vector."""
    sub = emb.limit(60).selectExpr("vec_id", "cast(embedding as array<double>) AS v")
    a = sub.selectExpr("vec_id AS ida", "v AS va", f"{P.norm2('va', 'spark')} AS na")
    # the alias dance mirrors the operators: norm computed once per row
    pairs = a.crossJoin(
        sub.selectExpr("vec_id AS idb", "v AS vb").withColumn(
            "nb", F.expr(P.norm2("vb", "spark"))
        )
    )
    old = P.cosine_distance("va", "vb", "spark")
    new = P.cosine_distance_prenorm("va", "vb", "na", "nb", "spark")
    bad = pairs.selectExpr(f"{old} AS o", f"{new} AS n").where("NOT (o <=> n)").count()
    assert bad == 0
    # the zero vector hits the guard: distance exactly 1.0 against everything
    z = (
        pairs.where("ida = 900001")
        .selectExpr(f"{new} AS n")
        .where("n <> 1.0")
        .count()
    )
    assert z == 0


def _naive_knn(items, queries, k, metric):
    """The pre-r13 knn_join plan (per-pair cosine_distance), verbatim."""
    from oaim_sandbox_spark.operators.retrieval import distance_expr

    dist = distance_expr(
        "i.embedding", P.to_double_array("q.query_vec", "spark"), metric
    )
    scored = (
        items.alias("i")
        .join(F.broadcast(queries.alias("q")))
        .select(
            F.col("q.query_id").alias("query_id"),
            F.col("i.vec_id").alias("neighbor_id"),
            F.expr(f"round({dist}, 6)").alias("distance"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "distance")
    )


@pytest.mark.parametrize("metric", ["COSINE", "EUCLIDEAN_DISTANCE", "DOT_PRODUCT"])
def test_knn_join_rows_unchanged(spark, emb, metric):
    queries = emb.limit(7).select(
        F.col("vec_id").alias("query_id"),
        F.expr("cast(embedding as array<double>)").alias("query_vec"),
    )
    got = sorted(
        tuple(r) for r in knn_join(emb, queries, k=5, metric=metric).collect()
    )
    want = sorted(tuple(r) for r in _naive_knn(emb, queries, 5, metric).collect())
    assert got == want


def test_lsh_knn_join_rows_unchanged_vs_cosine_recompute(spark, emb):
    """The factored LSH join must agree with an independent recomputation of
    each returned pair's distance through the ORIGINAL expression."""
    queries = emb.limit(5).select(
        F.col("vec_id").alias("query_id"),
        F.expr("cast(embedding as array<double>)").alias("query_vec"),
    )
    got = lsh_knn_join(emb, queries, k=3, multiprobe=True)
    orig = P.cosine_distance(
        "cast(i.embedding as array<double>)", "q.query_vec", "spark"
    )
    recomputed = (
        emb.alias("i")
        .join(F.broadcast(queries.alias("q")))
        .selectExpr(
            "q.query_id AS query_id",
            "i.vec_id AS neighbor_id",
            f"round({orig}, 6) AS rdist",
        )
    )
    bad = (
        got.join(recomputed, ["query_id", "neighbor_id"])
        .where("NOT (distance <=> rdist)")
        .count()
    )
    assert bad == 0


def _plan_text(df):
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_cte_materialization_rows_identical_and_fewer_scans(spark):
    """run_sql_materialized with the size floor at 0 must return exactly the
    rows of plain spark.sql for every template it rewrites, with fewer base
    scans in the plan; at the default floor it must be a byte-level no-op on
    test-scale data (same plan as plain)."""
    from oaim_sandbox_spark import queries as Q
    from oaim_sandbox_spark.cte_materialize import (
        MIN_INPUT_BYTES_CONF,
        run_sql_materialized,
        split_with_clause,
    )

    Q.register_views(spark, SF)
    names = [
        "pagerank_3iter",
        "data_quality_profile",
        "funnel_conversion",
        "countmin_token_topk",
        "weekly_cohort_retention",
        "tfidf_top_terms",
    ]
    for name in names:
        sql = Q.TEMPLATES[name]("spark")
        assert split_with_clause(sql) is not None, f"{name}: parser regressed"
        import re as _re

        plain = spark.sql(sql)
        # default floor: no-op at test scale — identical plan shape (ids
        # normalized: expression #ids are allocation-order artifacts)
        norm = lambda t: _re.sub(r"#\d+|plan_id=\d+|, \d+\)\) AS #x", "N", t)  # noqa: E731
        noop = run_sql_materialized(spark, sql)
        assert norm(_plan_text(noop)) == norm(_plan_text(plain)), name
        spark.conf.set(MIN_INPUT_BYTES_CONF, "0")
        try:
            mat = run_sql_materialized(spark, sql)
        finally:
            spark.conf.unset(MIN_INPUT_BYTES_CONF)
        got = [tuple(r) for r in mat.collect()]
        want = [tuple(r) for r in plain.collect()]
        assert got == want, name
        # the whole point: fewer base-table scans in the materialized plan
        assert _plan_text(mat).count("Scan parquet") < _plan_text(plain).count(
            "Scan parquet"
        ) or _plan_text(plain).count("Scan parquet") <= 2, name


def test_cte_materialization_never_clobbers_views(spark):
    """A CTE whose name collides with a registered view must not be turned
    into a temp view (it would shadow the real one for later queries)."""
    from oaim_sandbox_spark.cte_materialize import (
        MIN_INPUT_BYTES_CONF,
        run_sql_materialized,
    )

    spark.range(3).createOrReplaceTempView("collide_me")
    spark.conf.set(MIN_INPUT_BYTES_CONF, "0")
    try:
        out = run_sql_materialized(
            spark,
            "WITH collide_me AS (SELECT doc_id FROM documents WHERE doc_id < 5) "
            "SELECT a.doc_id FROM collide_me a JOIN collide_me b ON a.doc_id = b.doc_id",
        )
        assert out.count() <= 5
    finally:
        spark.conf.unset(MIN_INPUT_BYTES_CONF)
    # the pre-existing view is untouched
    assert spark.table("collide_me").count() == 3
    spark.catalog.dropTempView("collide_me")


def test_cc_driver_union_find_matches_distributed_loop(spark, monkeypatch):
    """The r13 size-thresholded CC strategy: driver union-find and the
    distributed min-label loop must label identically (min node id per
    component) on a graph with chains, cliques, and singletons."""
    import random

    from oaim_sandbox_spark.operators import dedup as D

    rng = random.Random(13)
    edges = [(i, i + 1) for i in range(50)]  # one long chain
    edges += [(100 + a, 100 + b) for a in range(8) for b in range(a + 1, 8)]  # clique
    edges += [(rng.randrange(200, 260), rng.randrange(200, 260)) for _ in range(40)]
    edf = spark.createDataFrame(edges, "doc_a BIGINT, doc_b BIGINT")
    ndf = spark.range(0, 270).select(F.col("id").alias("doc_id"))
    fast = {
        r["doc_id"]: r["cluster_id"]
        for r in D.connected_components(edf, ndf).collect()
    }
    monkeypatch.setattr(D, "DRIVER_CC_MAX_EDGES", -1)  # force the loop
    slow = {
        r["doc_id"]: r["cluster_id"]
        for r in D.connected_components(edf, ndf).collect()
    }
    assert fast == slow
    assert fast[49] == 0 and fast[107] == 100 and fast[265] == 265


def test_search_batch_rows_match_bruteforce_on_probed_cells(spark, emb, tmp_path):
    """search_batch after the r13 rewrite == per-pair brute force restricted
    to each query's probed cells (the definition of the IVF contract), with
    distances recomputed through the ORIGINAL cosine expression."""
    import numpy as np

    idx = IVFIndex(n_centroids=4, seed=42, max_iter=5).fit(emb)
    path = str(tmp_path / "ivf")
    idx.write_partitioned(emb, path, compact=True)
    queries = emb.limit(9).select(
        F.col("vec_id").alias("query_id"),
        F.expr("cast(embedding as array<double>)").alias("query_vec"),
    )
    hits = idx.search_batch(
        spark, path, queries, k=4, nprobe=2, pair_where="vec_id <> query_id"
    )
    # independent reference: numpy probe assignment + SQL per-pair distance
    qrows = queries.collect()
    qmat = np.asarray([list(map(float, r[1])) for r in qrows])
    d2 = ((qmat[:, None, :] - idx.centroids[None, :, :]) ** 2).sum(axis=2)
    probes = {int(r[0]): [int(c) for c in row] for r, row in zip(qrows, d2.argsort(axis=1)[:, :2])}
    assigned = idx.assign(emb).select("vec_id", "centroid").collect()
    cell = {r["vec_id"]: r["centroid"] for r in assigned}
    orig = P.cosine_distance(
        "cast(i.embedding as array<double>)", "q.query_vec", "spark"
    )
    allpairs = (
        emb.alias("i")
        .join(F.broadcast(queries.alias("q")))
        .selectExpr(
            "q.query_id AS query_id",
            "i.vec_id AS vec_id",
            f"round({orig}, 6) AS rdist",
        )
        .collect()
    )
    by_q: dict = {}
    for r in allpairs:
        if r["vec_id"] == r["query_id"]:
            continue
        if cell[r["vec_id"]] in probes[r["query_id"]]:
            by_q.setdefault(r["query_id"], []).append((r["rdist"], r["vec_id"]))
    want = []
    for q, lst in by_q.items():
        for rank, (d, v) in enumerate(sorted(lst)[:4], start=1):
            want.append((q, v, d, rank))
    got = [
        (r["query_id"], r["vec_id"], r["distance"], r["rank"]) for r in hits.collect()
    ]
    assert sorted(got) == sorted(want)


R13_PRENORM_TEMPLATES = [
    "knn_label_consensus",
    "knn_hubness_histogram",
    "coreset_coverage_radius",
    "hard_negative_mining",
    "ndcg_graded_retrieval",
]


def test_prenorm_templates_match_frozen_oracle(spark):
    """The r13 prenorm rewrite of the five all-pairs cosine templates (norms
    + double cast factored per ROW instead of per PAIR) must leave every
    query's results exactly as certified: the NEW Spark output is compared
    against the FROZEN pre-change DuckDB oracle SQL (captured from the last
    certified tree into tests/fixtures/r13_prenorm_old_oracle.json), using
    the driver-strict cell canonicalization of tools/check_correctness."""
    import json
    import sys
    from pathlib import Path

    import duckdb

    root = Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(root / "tools"))
    from check_correctness import canonical

    from oaim_sandbox_spark import queries as Q

    sf = "/root/testdata/sf0.01"
    old = json.loads((root / "tests/fixtures/r13_prenorm_old_oracle.json").read_text())
    duck = duckdb.connect()
    for t in ("documents", "embeddings"):
        duck.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    runners = Q.spark_queries()
    for name in R13_PRENORM_TEMPLATES:
        sdf = runners[name](spark, sf)
        got = canonical([tuple(r) for r in sdf.collect()], sdf.columns)
        rel = duck.sql(old[name])
        want = canonical(rel.fetchall(), rel.columns)
        assert got == want, name


R13_SIMHASH_TEMPLATES = [
    "dedup_chain_transitivity",
    "dedup_method_agreement",
    "dup_cluster_size_histogram",
    "near_dup_clusters",
    "near_dup_rate_by_source",
    "simhash_fingerprints",
    "simhash_near_pairs",
]


def test_simhash_single_agg_matches_frozen_oracle(spark):
    """The r13 single-aggregation simhash rewrite (SUM(±1) over raw token
    instances in one groupBy(doc_id) instead of SUM(±w) over the
    COUNT-per-(doc_id, tk) intermediate — integer sums, bit-identical
    fingerprints by associativity) must leave every consumer's results
    exactly as certified: the NEW Spark output is compared against the
    FROZEN pre-change DuckDB oracle SQL (captured into
    tests/fixtures/r13_simhash_old_oracle.json), using the driver-strict
    cell canonicalization of tools/check_correctness."""
    import json
    import sys
    from pathlib import Path

    import duckdb

    root = Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(root / "tools"))
    from check_correctness import canonical

    from oaim_sandbox_spark import queries as Q

    sf = "/root/testdata/sf0.01"
    old = json.loads((root / "tests/fixtures/r13_simhash_old_oracle.json").read_text())
    assert set(old) == set(R13_SIMHASH_TEMPLATES)
    duck = duckdb.connect()
    duck.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    runners = Q.spark_queries()
    for name in R13_SIMHASH_TEMPLATES:
        sdf = runners[name](spark, sf)
        got = canonical([tuple(r) for r in sdf.collect()], sdf.columns)
        rel = duck.sql(old[name])
        want = canonical(rel.fetchall(), rel.columns)
        assert got == want, name


def test_np_cell_scorer_matches_jvm_join_path(spark, tmp_path):
    """The NumPy cell scorer (r13 continuation #9) must stay row-identical —
    distances included — to the broadcast-join JVM expression path it
    replaced, which remains in search_batch/_multi as the fallback. Forces
    the fallback by clearing _NP_SCORE_METRICS and compares all three
    metrics plus the multi-width API on a small planted store."""
    from pyspark.sql import functions as F

    import oaim_sandbox_spark.operators.ann as ann

    store = spark.range(120).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 7), i -> "
            "cast(hash(id, i) % 1000 as double) / 250.0)"
        ).alias("embedding"),
        (F.col("id") % 3).cast("int").alias("label"),
    )
    idx = ann.IVFIndex(n_centroids=4, seed=7, max_iter=4).fit(store)
    path = str(tmp_path / "ivf")
    idx.write_partitioned(store, path, compact=True)
    qdf = store.filter("vec_id % 11 = 0").select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.expr("cast(embedding as array<double>)").alias("query_vec"),
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for metric in ("COSINE", "EUCLIDEAN_DISTANCE", "DOT_PRODUCT"):
        got = rows(idx.search_batch(spark, path, qdf, k=4, nprobe=2, metric=metric,
                                    pair_where="vec_id <> query_id"))
        saved = ann._NP_SCORE_METRICS
        ann._NP_SCORE_METRICS = ()
        try:
            want = rows(idx.search_batch(spark, path, qdf, k=4, nprobe=2, metric=metric,
                                         pair_where="vec_id <> query_id"))
        finally:
            ann._NP_SCORE_METRICS = saved
        assert got == want and got, metric

    got = rows(idx.search_batch_multi(spark, path, qdf, k=4, nprobes=(1, 3)))
    saved = ann._NP_SCORE_METRICS
    ann._NP_SCORE_METRICS = ()
    try:
        want = rows(idx.search_batch_multi(spark, path, qdf, k=4, nprobes=(1, 3)))
    finally:
        ann._NP_SCORE_METRICS = saved
    assert got == want and got

    # carried query columns + pair predicate on them
    got = rows(idx.search_batch(spark, path, qdf, k=4, nprobe=3,
                                query_cols=["qlabel"],
                                pair_where="label <> qlabel AND vec_id <> query_id"))
    saved = ann._NP_SCORE_METRICS
    ann._NP_SCORE_METRICS = ()
    try:
        want = rows(idx.search_batch(spark, path, qdf, k=4, nprobe=3,
                                     query_cols=["qlabel"],
                                     pair_where="label <> qlabel AND vec_id <> query_id"))
    finally:
        ann._NP_SCORE_METRICS = saved
    assert got == want and got
