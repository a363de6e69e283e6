"""Recall-floor guardrail (operators/tier_guard.py): the guard must refuse
matryoshka/binary tiers on the hashed-BoW store (where the bench measured
recall@10 collapse to 0.02/0.16) and accept them on the planted-cluster
store — plus widen IVF's nprobe where only the wider point meets the floor."""

import pytest
from pyspark.sql import functions as F

from oaim_sandbox_spark.operators import ann as A


def _hashed_bow_store(spark, sf="/root/testdata/sf0.1", dim=64):
    """The bench 'realistic' recipe: the engine's own hashed-BoW term
    frequencies over the actual documents table — correlated dims, Zipfian
    mass, no trained dimension order (exactly what breaks matryoshka/sign
    tiers)."""
    from oaim_sandbox_spark.operators.classifier import hashed_token_features

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    feat = hashed_token_features(docs, dim=dim, normalize=True)
    return (
        feat.groupBy("id")
        .agg(F.map_from_entries(F.collect_list(F.struct("idx", "cnt"))).alias("m"))
        .select(
            F.col("id").cast("bigint").alias("vec_id"),
            F.expr(
                f"transform(sequence(0, {dim - 1}), i -> coalesce(element_at(m, i), 0.0D))"
            ).alias("embedding"),
        )
    )


def _planted_store(spark, n_vec=2000, n_clusters=40, dim=64):
    """The bench 'planted' recipe: benign sinusoid mixture every tier aces."""
    centroid = f"3.0 * sin((vec_id % {n_clusters}) * 2.399963 + i * 0.712)"
    noise = "0.35 * (cast(hash(vec_id, i) as double) / 2147483647.0)"
    return (
        spark.range(n_vec)
        .withColumnRenamed("id", "vec_id")
        .withColumn("embedding", F.expr(f"transform(sequence(0, {dim - 1}), i -> {centroid} + {noise})"))
    )


@pytest.fixture(scope="module")
def bow_verdicts(spark):
    return A.recommend_tiers(
        _hashed_bow_store(spark),
        tiers=["matryoshka16_rerank", "binary_hamming_rerank", "ivf"],
    )


def test_guard_refuses_prefix_and_sign_tiers_on_hashed_bow(bow_verdicts):
    for tier in ("matryoshka16_rerank", "binary_hamming_rerank"):
        v = bow_verdicts[tier]
        assert v["status"] == "refused", (tier, v)
        assert v["operating_point"] is None
        # the collapse is real, not marginal: even the widened funnel is
        # far under the floor (bench recall_realistic: 0.02 / 0.16)
        assert v["widened_recall"] < 0.5


def test_guard_widens_ivf_on_hashed_bow(bow_verdicts):
    v = bow_verdicts["ivf"]
    assert v["status"] == "widened", v
    assert v["operating_point"] == {"nprobe": 4}
    assert v["recall"] < 0.8 <= v["widened_recall"]


def test_guard_accepts_tiers_on_planted_store(spark):
    verdicts = A.recommend_tiers(
        _planted_store(spark),
        tiers=["matryoshka16_rerank", "binary_hamming_rerank", "ivf", "int8"],
    )
    for tier, v in verdicts.items():
        assert v["status"] in ("ok", "widened"), (tier, v)
        assert v["effective_recall"] >= 0.8
    # the benign mixture is the tiers' home turf: default points hold
    assert verdicts["binary_hamming_rerank"]["status"] == "ok"
    assert verdicts["ivf"]["status"] == "ok"


def test_assert_tier_usable_raises_and_returns(spark):
    bow = _hashed_bow_store(spark)
    with pytest.raises(ValueError, match="matryoshka16_rerank' refused"):
        A.assert_tier_usable(bow, "matryoshka16_rerank")
    ok = A.assert_tier_usable(_planted_store(spark), "matryoshka16_rerank")
    assert ok["status"] in ("ok", "widened")


def test_probe_cost_bounded_by_store_cap(spark):
    """The probe's work is bounded by store_cap regardless of store size —
    the 100 TB property. With a tiny cap the thinned store is small and the
    probe still returns a verdict for every requested tier."""
    from oaim_sandbox_spark.operators.tier_guard import _thin_store

    store = _planted_store(spark, n_vec=2000)
    thinned = _thin_store(store, cap=300, id_col="vec_id")
    n = thinned.count()
    assert n <= 2 * 300 and n >= 100  # divisor = round(n/cap) keeps ~cap rows
    got = A.recommend_tiers(store, tiers=["int8"], store_cap=300)
    assert set(got) == {"int8"} and got["int8"]["status"] == "ok"


def test_unknown_tier_raises_descriptive_valueerror():
    """Public entry points validate tier names up front — the descriptive
    ValueError, not a bare KeyError from TIER_LADDER[tier], and before any
    probe work touches the store (store=None proves no Spark access)."""
    from oaim_sandbox_spark.operators import tier_guard as TG

    for fn in (TG.sampled_tier_recall, TG.recommend_tiers):
        with pytest.raises(ValueError, match="unknown tier 'nope'"):
            fn(None, tiers=["nope"])
    with pytest.raises(ValueError, match="unknown tier 'nope'"):
        TG.assert_tier_usable(None, "nope")


# -- per-metric tier ladder (VERDICT r8 task #4) ------------------------------


def test_tiered_store_int8_serves_dot_and_euclidean(spark):
    """int8 keeps full-precision information per dimension, so the same
    quantized representation serves every metric — the quantization algebra
    differs only in the norm term. Per metric: top-1 must match the exact
    scan and top-5 overlap >= 4/5 (int8 is lossy: |err| <= scale/254 per dim
    can flip near-ties at tail ranks — measured on the planted store:
    cosine/euclidean exact, dot 0.975 recall)."""
    from oaim_sandbox_spark.operators.retrieval import similarity_topk
    from oaim_sandbox_spark.operators.tier_guard import TieredStore

    store = _planted_store(spark)
    qv = [float(x) for x in store.filter("vec_id = 7").first()["embedding"]]
    for metric in ("COSINE", "DOT_PRODUCT", "EUCLIDEAN_DISTANCE"):
        ts = TieredStore(store, "int8", metric=metric, id_col="vec_id")
        got = [r["vec_id"] for r in ts.topk(qv, k=5).collect()]
        want = [r["vec_id"] for r in
                similarity_topk(store, qv, k=5, metric=metric,
                                id_col="vec_id", vec_col="embedding").collect()]
        assert got[0] == want[0], metric
        assert len(set(got) & set(want)) >= 4, (metric, got, want)


def test_rerank_tiers_serve_dot_product_exactly(spark):
    """Per-metric tier ladder completed (VERDICT r9 task #5): the re-rank
    tiers' stage 2 computes the requested metric EXACTLY on the fetched
    full-precision vectors, so a DOT_PRODUCT request through a re-rank
    TieredStore must match the exact dot-product scan (top-1 exact, top-5
    overlap >= 4/5 — stage-1 coverage, not algebra, is the only slack).
    A metric outside the engine's set still raises at construction."""
    from oaim_sandbox_spark.operators.retrieval import similarity_topk
    from oaim_sandbox_spark.operators.tier_guard import TieredStore

    store = _planted_store(spark, n_vec=200)
    qv = [float(x) for x in store.filter("vec_id = 7").first()["embedding"]]
    want = [r["vec_id"] for r in
            similarity_topk(store, qv, k=5, metric="DOT_PRODUCT",
                            id_col="vec_id", vec_col="embedding").collect()]
    for tier in ("matryoshka16_rerank", "binary_hamming_rerank", "pca16_rerank"):
        ts = TieredStore(store, tier, metric="DOT_PRODUCT", id_col="vec_id")
        got = [r["vec_id"] for r in ts.topk(qv, k=5).collect()]
        assert got[0] == want[0], (tier, got, want)
        assert len(set(got) & set(want)) >= 4, (tier, got, want)
    with pytest.raises(ValueError, match="serves .* only"):
        TieredStore(store, "binary_hamming_rerank", metric="TANIMOTO",
                    id_col="vec_id")


def test_probe_validates_metric_per_tier(spark):
    """recommend_tiers/sampled_tier_recall refuse to MEASURE a single-stage
    cosine-only tier under another metric (no exact re-rank stage exists to
    reorder it — the number would mean nothing), and probe int8 AND the
    re-rank tiers under the requested metric: both the exact oracle and the
    tier pass rank with it."""
    store = _planted_store(spark, n_vec=500)
    with pytest.raises(ValueError, match="no exact re-rank"):
        A.sampled_tier_recall(store, tiers=["lsh8_multiprobe"],
                              n_queries=4, store_cap=1000, metric="DOT_PRODUCT")
    for metric in ("DOT_PRODUCT", "EUCLIDEAN_DISTANCE"):
        v = A.recommend_tiers(store, tiers=["int8"], n_queries=4,
                              store_cap=1000, metric=metric)["int8"]
        assert v["status"] == "ok" and v["recall"] >= 0.9, (metric, v)
    # ivf is two-stage by construction (VERDICT r10 task #5): L2 centroid
    # pruning is the only approximation and the pruned candidates are
    # ranked with the REQUESTED metric, so non-cosine metrics are
    # measurable and on the planted store track the cosine verdict
    for metric in ("DOT_PRODUCT", "EUCLIDEAN_DISTANCE"):
        v = A.recommend_tiers(store, tiers=["ivf"], n_queries=4,
                              store_cap=1000, metric=metric)["ivf"]
        assert v["status"] in ("ok", "widened"), (metric, v)
    # re-rank tier probed under dot product: measurable, and on the planted
    # store (near-constant norms) its verdict tracks the cosine one
    v = A.recommend_tiers(store, tiers=["binary_hamming_rerank"], n_queries=4,
                          store_cap=1000, metric="DOT_PRODUCT")["binary_hamming_rerank"]
    assert v["status"] in ("ok", "widened"), v


def test_topk_batch_equals_per_query_topk(spark):
    """topk_batch through one stage-1 scan returns, per query, exactly the
    rows the single-query topk returns — for a re-rank tier AND int8, and
    under a non-cosine metric."""
    from oaim_sandbox_spark.operators.tier_guard import TieredStore

    store = _planted_store(spark, n_vec=300)
    qids = [3, 41, 77]
    qvecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in store.filter(F.col("vec_id").isin(qids)).collect()
    }
    for tier, metric in (("binary_hamming_rerank", "COSINE"),
                         ("int8", "DOT_PRODUCT")):
        ts = TieredStore(store, tier, metric=metric, id_col="vec_id")
        batch = ts.topk_batch([(q, qvecs[q]) for q in qids], k=4).collect()
        got = {}
        for r in batch:
            got.setdefault(r["query_id"], []).append((r["vec_id"], r["distance"]))
        for q in qids:
            single = [(r["vec_id"], r["distance"]) for r in ts.topk(qvecs[q], k=4).collect()]
            assert got[q] == single, (tier, metric, q)
    # duplicate query ids refuse up front
    ts = TieredStore(store, "int8", id_col="vec_id")
    with pytest.raises(ValueError, match="unique"):
        ts.topk_batch([(1, qvecs[3]), (1, qvecs[41])])
    # reserved output names refuse with a rename hint, never an ambiguous
    # join or a silent drop of the caller's column
    ts2 = TieredStore(store.withColumn("rank", F.lit(1)), "int8", id_col="vec_id")
    with pytest.raises(ValueError, match="reserved"):
        ts2.topk_batch([(1, qvecs[3])])
    # neighbor_id is joined-then-dropped internally, so it is reserved too
    # (ADVICE r10: previously failed later with AMBIGUOUS_REFERENCE)
    ts3 = TieredStore(store.withColumn("neighbor_id", F.lit(1)), "int8",
                      id_col="vec_id")
    with pytest.raises(ValueError, match="reserved"):
        ts3.topk_batch([(1, qvecs[3])])
    # the DataFrame entry point is public (evaluate_testset_batched calls
    # it directly) and must refuse the same clash up front with the same
    # rename hint — not a later AMBIGUOUS_REFERENCE (ADVICE r12)
    qdf = spark.createDataFrame([(1, qvecs[3])],
                                "query_id BIGINT, query_vec ARRAY<DOUBLE>")
    with pytest.raises(ValueError, match="reserved"):
        ts3.topk_batch_df(qdf)


def test_ivf_dot_product_verdict_catches_mips_norm_outliers(spark):
    """ADVICE r11: IVF's promotion to DOT_PRODUCT was measured on a
    near-constant-norm store where inner-product ranking trivially tracks
    cosine. This fixture plants the adversarial MIPS shape — high-norm
    vectors FAR (in L2) from every query centroid but with positive
    projection on all of them, so they win every inner-product top-k while
    L2 centroid pruning assigns them to a distant cell that nprobe=2/4
    never opens. The per-store verdict must MEASURE that mismatch and
    refuse, while the same store under COSINE (where the outliers rank
    below in-cluster neighbors) passes — and int8, which keeps
    full-precision information with no pruning, serves DOT_PRODUCT on the
    exact same store (the refusal message's recommended alternative)."""
    import numpy as np

    rng = np.random.default_rng(5)
    rows = []
    for i in range(300):
        v = np.zeros(8)
        v[i % 5] = 1.0
        v += 0.05 * rng.normal(0, 1, 8)
        rows.append((i, [float(x) for x in v]))
    u = np.array([1, 1, 1, 1, 1, 0.8, 0, 0], dtype=float)
    u /= np.linalg.norm(u)  # positive dot with every cluster direction
    for j in range(10):
        v = 10.0 * u + 0.05 * rng.normal(0, 1, 8)  # the MIPS winners
        rows.append((300 + j, [float(x) for x in v]))
    store = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")

    dot = A.recommend_tiers(store, tiers=["ivf"], n_queries=6,
                            store_cap=1000, metric="DOT_PRODUCT")["ivf"]
    assert dot["status"] == "refused", dot
    assert dot["effective_recall"] < 0.5, dot  # the collapse is real, not marginal
    cos = A.recommend_tiers(store, tiers=["ivf"], n_queries=6,
                            store_cap=1000, metric="COSINE")["ivf"]
    assert cos["status"] in ("ok", "widened"), cos
    int8 = A.recommend_tiers(store, tiers=["int8"], n_queries=6,
                             store_cap=1000, metric="DOT_PRODUCT")["int8"]
    assert int8["status"] == "ok" and int8["recall"] >= 0.9, int8


@pytest.mark.parametrize("metric", ["COSINE", "EUCLIDEAN_DISTANCE", "DOT_PRODUCT"])
def test_guard_ivf_probe_measures_the_serving_scorer(spark, tmp_path, monkeypatch, metric):
    """The guard's IVF recall is scored by the code search_batch serves
    with: ``ann._np_cell_scores`` runs during the probe, and both ladder
    points equal search_batch_multi's recall over the same sub-store,
    queries and index written with write_partitioned."""
    from oaim_sandbox_spark.materialize import scope
    from oaim_sandbox_spark.operators import tier_guard as TG

    # uniform noise: no cluster structure, so pruning loses neighbors and
    # the two ladder points read different recalls
    store = spark.range(600).select(
        F.col("id").alias("vec_id"),
        F.expr("transform(sequence(0, 15), i -> "
               "cast(hash(id, i) as double) / 2147483647.0)").alias("embedding"),
    )
    calls = []
    real = A._np_cell_scores

    def counting(*args, **kwargs):
        calls.append(args[3])
        return real(*args, **kwargs)

    monkeypatch.setattr(A, "_np_cell_scores", counting)
    got = TG.sampled_tier_recall(store, tiers=["ivf"], metric=metric)["ivf"]
    assert calls and set(calls) == {metric}
    monkeypatch.setattr(A, "_np_cell_scores", real)

    with scope(spark) as s:
        sub, qdf, _queries, _dim = TG._probe_frames(s, store, 8, 20_000, "vec_id", "embedding")
        exact = TG._sets(A.knn_join(sub, qdf, k=10, metric=metric))
        idx = A.IVFIndex(n_centroids=16, seed=3, max_iter=10).fit(sub)
        path = str(tmp_path / "ivf")
        idx.write_partitioned(sub, path)
        sets = {2: {}, 4: {}}
        for r in idx.search_batch_multi(spark, path, qdf, k=10, nprobes=(2, 4),
                                        metric=metric).collect():
            sets[r["nprobe"]].setdefault(r["query_id"], set()).add(r["vec_id"])
    assert got == {"recall": TG._recall(sets[2], exact, 10),
                   "widened_recall": TG._recall(sets[4], exact, 10)}
