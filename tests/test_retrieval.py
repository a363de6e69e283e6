"""Distance-metric parity (Oracle semantics, SURVEY §2.6) + top-k/threshold/
MMR behavior (reference chatbot.py:183-210, schema.py:168-183)."""

import math

import numpy as np
import pytest

from oaim_sandbox_spark.operators.retrieval import mmr_rerank, similarity_topk

VECS = [
    (1, [1.0, 0.0, 0.0]),
    (2, [0.9, 0.1, 0.0]),
    (3, [0.0, 1.0, 0.0]),
    (4, [-1.0, 0.0, 0.0]),
    (5, [0.5, 0.5, 0.0]),
]
QUERY = [1.0, 0.0, 0.0]


@pytest.fixture(scope="module")
def store(spark):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in VECS], "id INT, embedding ARRAY<FLOAT>"
    )


def _np_dist(v, metric):
    a, q = np.asarray(v), np.asarray(QUERY)
    if metric == "COSINE":
        return 1 - a.dot(q) / (np.linalg.norm(a) * np.linalg.norm(q))
    if metric == "EUCLIDEAN_DISTANCE":
        return float(np.linalg.norm(a - q))
    return -float(a.dot(q))  # Oracle DOT_PRODUCT: negated inner product


@pytest.mark.parametrize("metric", ["COSINE", "EUCLIDEAN_DISTANCE", "DOT_PRODUCT"])
def test_topk_matches_numpy(store, metric):
    out = similarity_topk(store, QUERY, k=5, metric=metric).collect()
    expected = sorted(VECS, key=lambda iv: (_np_dist(iv[1], metric), iv[0]))
    assert [r.id for r in out] == [i for i, _ in expected]
    for r in out:
        v = dict(VECS)[r.id]
        assert math.isclose(r.distance, round(_np_dist(v, metric), 6), abs_tol=1e-6)


def test_dot_product_is_negated(store):
    out = similarity_topk(store, QUERY, k=1, metric="DOT_PRODUCT").collect()
    # largest dot product (id 1, dot=1.0) must rank first with distance -1.0
    assert out[0].id == 1
    assert out[0].distance == -1.0


def test_topk_k_limits(store):
    assert len(similarity_topk(store, QUERY, k=3).collect()) == 3


def test_score_threshold(store):
    out = similarity_topk(store, QUERY, k=10, metric="COSINE", score_threshold=0.9).collect()
    # score = 1 - dist/2; cosine dist <= 0.2 <=> cos sim >= 0.8
    assert {r.id for r in out} == {1, 2}
    assert all(r.score >= 0.9 for r in out)


def test_mmr_first_pick_is_most_similar(store):
    rows = mmr_rerank(store, QUERY, k=3, fetch_k=5, lambda_mult=0.5)
    assert rows[0]["id"] == 1


def test_mmr_diversifies(store):
    # with lambda=0 (pure diversity) the 2nd pick should NOT be the 2nd-nearest
    # (id 2 is nearly parallel to id 1); it should pick something orthogonal.
    rows = mmr_rerank(store, QUERY, k=2, fetch_k=5, lambda_mult=0.0)
    assert rows[0]["id"] == 1
    assert rows[1]["id"] != 2


def test_mmr_lambda_one_equals_topk(store):
    rows = mmr_rerank(store, QUERY, k=3, fetch_k=5, lambda_mult=1.0)
    topk = similarity_topk(store, QUERY, k=3).collect()
    assert [r["id"] for r in rows] == [r.id for r in topk]


def test_normalized_store_dot_topk_equals_cosine_topk(spark):
    """Cosine top-k over the raw store == negated-dot top-k over the
    pre-normalized store (the cosine-at-scale layout)."""
    from oaim_sandbox_spark.operators.retrieval import normalize_vectors, similarity_topk

    store = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in store.filter("vec_id = 0").selectExpr(
        "cast(embedding as array<double>)").collect()[0][0]]
    import math
    qn = math.sqrt(sum(x * x for x in qv)) or 1.0
    q_unit = [x / qn for x in qv]

    cos = similarity_topk(store.filter("vec_id <> 0"), qv, k=8, metric="COSINE", id_col="vec_id")
    normed = normalize_vectors(store.filter("vec_id <> 0"))
    dot = similarity_topk(normed, q_unit, k=8, metric="DOT_PRODUCT", id_col="vec_id")
    assert [r["vec_id"] for r in cos.collect()] == [r["vec_id"] for r in dot.collect()]


def test_normalize_vectors_unit_norm_and_zero_safe(spark):
    from oaim_sandbox_spark.operators.retrieval import normalize_vectors

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], "id INT, embedding ARRAY<DOUBLE>"
    )
    rows = {r["id"]: r["embedding"] for r in normalize_vectors(df).collect()}
    assert abs(rows[1][0] - 0.6) < 1e-12 and abs(rows[1][1] - 0.8) < 1e-12
    assert rows[2] == [0.0, 0.0]


def test_federated_topk_across_stores(spark, tmp_path):
    """Multi-store search: per-store local top-k union + global re-rank,
    with store provenance; global result equals top-k over the union."""
    from oaim_sandbox_spark.catalog import VectorStorage, VectorStoreCatalog
    from oaim_sandbox_spark.operators.retrieval import federated_topk

    cat = VectorStoreCatalog(spark, str(tmp_path / "cat"))
    # mirrored fans: a_i = [1, i], b_i = [i, 1] — cosine to [1,1] ties only
    # within each mirrored PAIR, so the global top-4 must take a1,b1,a2,b2
    rows_a = [(f"a{i}", [1.0, float(i)]) for i in range(1, 6)]
    rows_b = [(f"b{i}", [float(i), 1.0]) for i in range(1, 6)]
    for alias, rows in (("store_a", rows_a), ("store_b", rows_b)):
        df = spark.createDataFrame(rows, "id STRING, embedding ARRAY<FLOAT>")
        cat.write_store(df, VectorStorage(alias=alias, model="m", chunk_size=8,
                                          chunk_overlap=0, distance_metric="COSINE"))
    got = federated_topk(cat, [1.0, 1.0], k=4).collect()
    assert len(got) == 4
    assert {r["store"] for r in got} == {s.vector_store for s in cat.list_stores()}
    assert sorted(r["id"] for r in got) == ["a1", "a2", "b1", "b2"]

    named = federated_topk(cat, [1.0, 0.0], k=2,
                           stores=[s.vector_store for s in cat.list_stores()
                                   if "STORE_A" in s.vector_store.upper()])
    ids = [r["id"] for r in named.collect()]
    assert all(i.startswith("a") for i in ids) and len(ids) == 2


def test_federated_topk_rejects_mixed_dims(spark, tmp_path):
    """A store from a different embedding space fails loudly instead of
    flooding the global top-k with NULL-distance rows."""
    import pytest as _pytest

    from oaim_sandbox_spark.catalog import VectorStorage, VectorStoreCatalog
    from oaim_sandbox_spark.operators.retrieval import federated_topk

    cat = VectorStoreCatalog(spark, str(tmp_path / "cat"))
    cat.write_store(
        spark.createDataFrame([("a", [1.0, 0.0])], "id STRING, embedding ARRAY<FLOAT>"),
        VectorStorage(alias="d2", model="m2", chunk_size=8, chunk_overlap=0),
    )
    cat.write_store(
        spark.createDataFrame([("b", [1.0, 0.0, 0.0])], "id STRING, embedding ARRAY<FLOAT>"),
        VectorStorage(alias="d3", model="m3", chunk_size=8, chunk_overlap=0),
    )
    with _pytest.raises(ValueError, match="not comparable"):
        federated_topk(cat, [1.0, 0.0], k=2)


def test_mmr_rerank_survives_zero_vectors(spark):
    """A zero vector among the candidates (or as the query) used to produce
    NaN similarities, leave best=None, and crash on cands[None] — it must
    rank cleanly instead (serving/chat.py calls this on live stores)."""
    from pyspark.sql import functions as F

    from oaim_sandbox_spark.operators.retrieval import mmr_rerank

    store = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("z", [0.0, 0.0]), ("b", [0.9, 0.1]), ("c", [0.0, 1.0])],
        "id STRING, embedding ARRAY<DOUBLE>",
    ).withColumn("embedding", F.expr("cast(embedding as array<double>)"))
    got = mmr_rerank(store, [1.0, 0.0], k=3, fetch_k=4)
    assert len(got) == 3
    assert got[0]["id"] == "a"  # most similar first

    # zero QUERY: no crash, deterministic k rows
    got = mmr_rerank(store, [0.0, 0.0], k=2, fetch_k=4)
    assert len(got) == 2


def test_mmr_select_counts_invalid_vectors_as_zero_vectors():
    """A NULL vector, one of another length than the query and one holding
    a NULL element rank in MMR's greedy phase as zero vectors do (0
    similarity), instead of failing the request with ValueError."""
    from oaim_sandbox_spark.operators.retrieval import mmr_select

    first = mmr_select([{"embedding": [1.0, 0.0]}, {"embedding": None},
                        {"embedding": [0.0, 1.0]}], [1.0, 0.0], 2, 0.5)
    assert [r["embedding"] for r in first] == [[1.0, 0.0], None]
    vecs = [[1.0, 0.0], None, [0.6, 0.8], [0.5], [None, 1.0], [0.9, 0.1], [0.0, 0.0]]
    zeroed = [v if v is None or (len(v) == 2 and None not in v) else None for v in vecs]
    zeroed = [[0.0, 0.0] if v is None else v for v in zeroed]
    for lam in (0.0, 0.5, 1.0):
        got = mmr_select([{"i": i, "embedding": v} for i, v in enumerate(vecs)],
                         [1.0, 0.2], 5, lam)
        want = mmr_select([{"i": i, "embedding": v} for i, v in enumerate(zeroed)],
                          [1.0, 0.2], 5, lam)
        assert [r["i"] for r in got] == [r["i"] for r in want]


# -- prenorm cosine and the threshold plan ------------------------------------


def _edge_store(spark):
    """Random rows plus the cases the distance guards exist for: a zero
    row, a NaN element, a NULL element, a row of another dimension and a
    NULL vector."""
    return spark.createDataFrame(_edge_rows(), "id INT, embedding ARRAY<DOUBLE>")


def _same(a, b) -> bool:
    """Bit equality that treats NaN as equal to NaN."""
    import struct

    if a is None or b is None:
        return a is b
    return struct.pack("<d", a) == struct.pack("<d", b)


def _queries():
    rng = np.random.default_rng(11)
    return [[float(x) for x in rng.standard_normal(8)] for _ in range(3)] + [[0.0] * 8]


def test_prenorm_distance_bit_identical_to_cosine_distance(spark):
    """The query norm folded in Python and the row-norm column give the
    unrounded double ``cosine_distance`` gives, for random, zero, NaN,
    NULL and other-dimension rows, for a zero query and for a query whose
    norm overflows to infinity."""
    from pyspark.sql import functions as F

    from oaim_sandbox_spark.functions import portable as P
    from oaim_sandbox_spark.operators.retrieval import _double_literal, _vec_literal

    store = _edge_store(spark)
    a = P.to_double_array("embedding", "spark")
    for q in _queries() + [[1e200] * 8]:
        lit = _vec_literal(q)
        qn = _double_literal(float(P.norm2_rows([q])[0]))
        got = store.select(
            "id",
            F.expr(P.cosine_distance(a, lit, "spark")).alias("old"),
            F.expr(P.cosine_distance_prenorm(a, lit, P.norm2(a, "spark"), qn, "spark")).alias("new"),
        ).collect()
        assert len(got) == 45
        bad = [(r["id"], r["old"], r["new"]) for r in got if not _same(r["old"], r["new"])]
        assert not bad, bad


def _old_topk(store, q, k, metric, t=None):
    """similarity_topk as it was: every distance from ``distance_expr``,
    and the threshold as a Filter below the ordering."""
    from pyspark.sql import functions as F

    from oaim_sandbox_spark.operators.retrieval import distance_expr, score_expr

    out = store.withColumn("distance", F.expr(f"round({distance_expr('embedding', q, metric)}, 6)"))
    if t is not None:
        out = out.withColumn("score", F.expr(f"round({score_expr('distance', metric)}, 6)")).filter(
            F.col("score") >= t)
    return out.orderBy(F.col("distance").asc(), F.col("id").asc()).limit(k)


def _rows(df):
    """(id, distance[, score]) per row, NaN spelled out so rows compare."""
    def key(v):
        return "nan" if isinstance(v, float) and v != v else v

    return [tuple(key(r[c]) for c in r.asDict() if c != "embedding") for r in df.collect()]


@pytest.mark.parametrize("prepared", [False, True])
def test_similarity_topk_matches_old_expression(spark, prepared):
    """Prenorm cosine top-k returns the old rows and distances, over a
    store with or without the prepared norm column, and the norm column
    never reaches the output."""
    from oaim_sandbox_spark.operators.retrieval import with_row_norms

    store = _edge_store(spark)
    src = with_row_norms(store).localCheckpoint() if prepared else store
    for q in _queries():
        got = similarity_topk(src, q, k=45)
        assert got.columns == ["id", "embedding", "distance"]
        assert _rows(got) == _rows(_old_topk(store, q, 45, "COSINE"))


def test_prepared_cosine_plan_folds_once_per_row(spark):
    """Over a prepared store the only fold in the plan is the dot product:
    neither the row norm nor the query norm is folded per row."""
    from oaim_sandbox_spark.operators.retrieval import with_row_norms

    src = with_row_norms(_edge_store(spark)).localCheckpoint()
    df = similarity_topk(src, _queries()[0], k=4)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("aggregate(") == 1, plan
    assert "SQRT" not in plan.upper().replace("__EMBEDDING_NORM", ""), plan


@pytest.mark.parametrize("metric", ["COSINE", "EUCLIDEAN_DISTANCE", "DOT_PRODUCT"])
def test_threshold_matches_filter_then_limit(spark, metric):
    """Ordering the passing rows first, taking k and filtering those k
    returns what filter-then-limit returned, NULL and NaN distances
    included, and no Filter of the executed plan runs the distance fold."""
    store = _edge_store(spark)
    for q in _queries()[2:]:  # a random query and the zero query
        for t in (-2.0, 0.3, 0.95):
            for k in (2, 45):
                got = similarity_topk(store, q, k=k, metric=metric, score_threshold=t)
                want = _old_topk(store, q, k, metric, t)
                assert _rows(got) == _rows(want), (metric, t, k)
    plan = got._jdf.queryExecution().executedPlan().toString()
    filters = [ln for ln in plan.splitlines() if "Filter" in ln]
    assert filters and not [ln for ln in filters if "aggregate(zip_with" in ln], plan


# -- the serving snapshot: host answers equal the Spark plans' --------------

HALVES = [0.1234565, 5e-7, -5e-7, 0.0000015, 1.9999995, 2.5e-7, 0.5000005]


def _snapshot_store(spark, id_type):
    """The edge store plus duplicate-vector rows and rows whose DOT and
    EUCLIDEAN distances to e0 (the query [1, 0, ...]) and to the zero
    query land on exact halves of the 6th decimal. The first row is a
    plain one: TieredStore reads the dimension from it."""
    from oaim_sandbox_spark.operators.retrieval import with_row_norms

    rows = _edge_rows()
    rows += [(200, rows[3][1]), (201, rows[3][1])]  # duplicate vectors
    rows += [(300 + j, [x] + [0.0] * 7) for j, x in enumerate(HALVES)]
    if id_type == "string":
        rows = [(str(i), v) for i, v in rows]  # "100" sorts before "2"
    store = spark.createDataFrame(rows, f"id {id_type}, embedding ARRAY<DOUBLE>")
    return with_row_norms(store).localCheckpoint()


def _edge_rows():
    """Random rows, then a zero row, a NaN element, a NULL element, a row of
    another dimension and a NULL vector."""
    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)]
    return rows + [
        (100, [0.0] * 8),
        (101, [1.0, float("nan")] + [0.5] * 6),
        (102, [1.0, None] + [0.5] * 6),
        (103, [0.3] * 5),
        (104, None),
    ]


def _snapshot_queries():
    e0 = [1.0] + [0.0] * 7
    return _queries() + [e0, [float("inf")] + [0.0] * 7]


def _canon(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, list):
        return [_canon(x) for x in v]
    return v


def _outcome(fn):
    """Rows as (field names, canonical values with repr'd floats), or the
    exception type a path raised."""
    try:
        rows = fn()
    except (TypeError, ValueError) as ex:
        return ("raised", type(ex).__name__)
    return [(tuple(r.asDict()), _canon(list(r))) for r in rows]


@pytest.mark.parametrize("id_type", ["bigint", "string"])
@pytest.mark.parametrize("metric", ["COSINE", "EUCLIDEAN_DISTANCE", "DOT_PRODUCT"])
def test_snapshot_rows_equal_spark_rows(spark, id_type, metric):
    """Similarity, Score Threshold, MMR and int8 answered from the driver
    snapshot give the Spark plans' rows, columns and repr(distance), over
    zero, NULL, NULL-element, ragged, NaN, duplicate-vector and exact-half
    rows, for random, zero, e0 and infinite queries."""
    from oaim_sandbox_spark.operators.retrieval import StoreSnapshot, row_norm_col
    from oaim_sandbox_spark.operators.tier_guard import Int8HostCopy, TieredStore

    prepared = _snapshot_store(spark, id_type)
    snap = StoreSnapshot.collect(prepared)
    assert snap is not None and snap.dim == 8
    n = prepared.count()
    ts = TieredStore(prepared.drop(row_norm_col()), "int8", metric=metric)
    host8 = Int8HostCopy.collect(ts, snap.ids, snap.dim)
    assert (host8 is None) == (id_type == "string")  # string ids: Spark's cast
    try:
        for q in _snapshot_queries():
            for k in (3, n):
                want = _outcome(lambda: similarity_topk(prepared, q, k, metric).collect())
                assert _outcome(lambda: snap.topk(q, k, metric)) == want, (q, k)
                assert want and want[0][0][-1] == "distance"
                for t in (-2.0, 0.3, 0.95, 0.5000005):
                    want = _outcome(lambda: similarity_topk(
                        prepared, q, k, metric, score_threshold=t).collect())
                    assert _outcome(lambda: snap.topk(q, k, metric, t)) == want, (q, k, t)
                for fetch_k in (10, n):
                    want = _outcome(lambda: mmr_rerank(prepared, q, 3, fetch_k, 0.5, metric))
                    assert want and want[0] != "raised", (q, fetch_k, want)
                    assert _outcome(lambda: snap.mmr(q, 3, fetch_k, 0.5, metric)) == want
                if host8 is not None:
                    want = _outcome(lambda: ts.topk(q, k).collect())
                    assert _outcome(lambda: snap.ranked(*host8.distances(q), k)) == want, (q, k)
    finally:
        ts.close()


def test_snapshot_declines_what_it_does_not_cover(spark, monkeypatch):
    """No snapshot over the byte cap, for repeated ids, for a NULL id or
    for a column type whose Arrow value differs from Spark's."""
    from pyspark.sql import functions as F

    from oaim_sandbox_spark.operators import retrieval as R

    prepared = _snapshot_store(spark, "bigint")
    assert R.StoreSnapshot.collect(prepared) is not None
    assert R.StoreSnapshot.collect(prepared.union(prepared.limit(1))) is None
    assert R.StoreSnapshot.collect(prepared.withColumn(
        "id", F.expr("if(id = 3, null, id)"))) is None
    assert R.StoreSnapshot.collect(prepared.withColumn("ts", F.current_timestamp())) is None
    monkeypatch.setattr(R, "SNAPSHOT_MAX_BYTES", 1000)
    assert R.StoreSnapshot.collect(prepared) is None


def test_spark_round_semantics_the_host_ranker_reproduces(spark):
    """Pinned on this Spark: round(x, 6) never yields -0.0 (a DOT_PRODUCT
    zero query gives a raw -0.0) where Decimal.quantize keeps the sign;
    NULL sorts first and NaN last ascending; NaN >= t is true, where NumPy
    says false; exact halves of the 6th decimal round as spark_round6
    rounds them."""
    import decimal
    import random

    from oaim_sandbox_spark.operators.retrieval import _spark_ge, spark_round6

    a, b = spark.sql(
        "SELECT round(cast('-0.0' as double), 6), round(-1e-9, 6)").first()
    assert math.copysign(1.0, a) == 1.0 and math.copysign(1.0, b) == 1.0
    neg = decimal.Decimal(repr(-1e-9)).quantize(decimal.Decimal("1e-6"))
    assert math.copysign(1.0, float(neg)) == -1.0  # the trap spark_round6 avoids
    assert [repr(spark_round6(x)) for x in (-0.0, -1e-9)] == ["0.0", "0.0"]

    order = [r[0] for r in spark.sql(
        "SELECT * FROM VALUES (1.0D), (NULL), (double('NaN')), (-1.0D) AS t(d) "
        "ORDER BY d ASC").collect()]
    assert order[0] is None and order[1:3] == [-1.0, 1.0] and math.isnan(order[3])
    assert spark.sql("SELECT double('NaN') >= 0.5").first()[0] is True
    assert not np.float64("nan") >= 0.5 and _spark_ge(float("nan"), 0.5)

    rng = random.Random(5)
    xs = HALVES + [-x for x in HALVES] + [-0.0, 0.0, 1e17 + 0.5, 1e300, 5e-324, -2.5e-7]
    for _ in range(300):
        m = rng.randrange(-3_000_000, 3_000_000)
        h = (m + 0.5) / 1e6
        xs += [h, math.nextafter(h, math.inf), math.nextafter(h, -math.inf),
               rng.uniform(-2.0, 2.0)]
    got = [r[0] for r in spark.createDataFrame([(x,) for x in xs], "x DOUBLE")
           .selectExpr("round(x, 6)").collect()]
    assert [repr(spark_round6(x)) for x in xs] == [repr(v) for v in got]
