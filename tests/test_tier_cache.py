"""Persisted tier-guard verdicts (VERDICT r7 task #2): the sampled recall
probe runs once per (store version, floor, k), the verdict JSON lives in the
`_genai.json` sidecar, and serving retrieval consults it with zero probe
cost through ChatPipeline's tier gate."""

import json
import os

import pytest
from pyspark.sql import functions as F

from oaim_sandbox_spark.catalog import SIDECAR, VectorStorage, VectorStoreCatalog

DIM = 64
PROBE_KW = dict(n_queries=4, store_cap=2000)


def _planted(spark, n=400, start=0):
    centroid = f"3.0 * sin((id % 20) * 2.399963 + i * 0.712)"
    noise = "0.35 * (cast(hash(id, i) as double) / 2147483647.0)"
    return (
        spark.range(start, start + n)
        .withColumn("text", F.concat(F.lit("doc "), F.col("id")))
        .withColumn(
            "embedding",
            F.expr(f"transform(sequence(0, {DIM - 1}), i -> {centroid} + {noise})"),
        )
    )


@pytest.fixture()
def cat_store(spark, tmp_path):
    cat = VectorStoreCatalog(spark, root=str(tmp_path))
    vs = VectorStorage(alias="tg", model="mock", chunk_size=100, chunk_overlap=0)
    name = cat.write_store(_planted(spark), vs)
    return cat, name, vs


@pytest.fixture()
def probe_log(monkeypatch):
    """Wrap tier_guard.recommend_tiers to record each probe's tier list —
    the zero-probe-cost assertions count entries here."""
    from oaim_sandbox_spark.operators import tier_guard as TG

    calls: list[list[str]] = []
    real = TG.recommend_tiers

    def wrapper(store, tiers=None, **kw):
        calls.append(list(TG.TIER_LADDER) if tiers is None else list(tiers))
        return real(store, tiers=tiers, **kw)

    monkeypatch.setattr(TG, "recommend_tiers", wrapper)
    return calls


def test_verdict_cached_in_sidecar_and_reused(cat_store, probe_log):
    cat, name, _vs = cat_store
    v1 = cat.tier_verdicts(name, tiers=["matryoshka16_rerank"], **PROBE_KW)
    assert len(probe_log) == 1
    assert v1["matryoshka16_rerank"]["status"] in ("ok", "widened")
    sidecar = os.path.join(cat._store_path(name), SIDECAR)
    with open(sidecar) as fh:
        meta = json.load(fh)
    tg = meta["tier_guard"]
    assert tg["fingerprint"] == cat.store_fingerprint(name)
    # the config slot key leads with floor|k and folds in the probe kwargs
    # (ADVICE r8 low — a small-store_cap verdict must not serve other
    # configurations)
    (cfg_key,) = tg["configs"]
    assert cfg_key.startswith("0.8|10|") and "store_cap" in cfg_key
    assert "matryoshka16_rerank" in tg["configs"][cfg_key]
    # second call: sidecar-read cost only, identical verdict
    v2 = cat.tier_verdicts(name, tiers=["matryoshka16_rerank"], **PROBE_KW)
    assert len(probe_log) == 1
    assert v2 == v1


def test_partial_cache_probes_only_missing_tiers(cat_store, probe_log):
    cat, name, _vs = cat_store
    cat.tier_verdicts(name, tiers=["matryoshka16_rerank"], **PROBE_KW)
    both = cat.tier_verdicts(
        name, tiers=["matryoshka16_rerank", "binary_hamming_rerank"], **PROBE_KW
    )
    assert probe_log[-1] == ["binary_hamming_rerank"]  # cached tier not re-probed
    assert set(both) == {"matryoshka16_rerank", "binary_hamming_rerank"}


def test_cache_invalidates_on_append(cat_store, probe_log):
    cat, name, vs = cat_store
    cat.tier_verdicts(name, tiers=["matryoshka16_rerank"], **PROBE_KW)
    fp_before = cat.store_fingerprint(name)
    cat.write_store(_planted(cat.spark, n=100, start=1000), vs, mode="append")
    assert cat.store_fingerprint(name) != fp_before
    cat.tier_verdicts(name, tiers=["matryoshka16_rerank"], **PROBE_KW)
    assert len(probe_log) == 2  # fingerprint change forced a re-probe


def test_assert_tier_usable_cached_refusal(cat_store, probe_log):
    cat, name, _vs = cat_store
    # floor above any achievable recall forces a deterministic refusal;
    # the refusal itself is cached — the second assert re-raises with no probe
    for _ in range(2):
        with pytest.raises(ValueError, match="refused for store"):
            cat.assert_tier_usable(name, "matryoshka16_rerank", floor=1.01, **PROBE_KW)
    assert len(probe_log) == 1


def test_chat_pipeline_consults_cached_gate_zero_probe(cat_store, probe_log, monkeypatch):
    from oaim_sandbox_spark.operators import tier_guard as TG
    from oaim_sandbox_spark.operators.retrieval import similarity_topk
    from oaim_sandbox_spark.serving.chat import ChatPipeline, MockLLM, RagSettings

    cat, name, _vs = cat_store
    cat.tier_verdicts(name, tiers=["matryoshka16_rerank"], **PROBE_KW)  # warm cache
    warm_probes = len(probe_log)
    store = cat.read_store(name)
    qv = [float(x) for x in store.filter("id = 7").first()["embedding"]]
    pipe = ChatPipeline(
        store=store,
        embed_query=lambda _q: qv,
        llm=MockLLM(),
        settings=RagSettings(search_tier="matryoshka16_rerank", grading=False),
        tier_gate=lambda t: cat.assert_tier_usable(name, t, **PROBE_KW),
    )
    docs = pipe.retrieve("q")
    # the gate consulted ONLY the cached verdict: zero additional probes
    assert len(probe_log) == warm_probes
    assert [d["text"] for d in docs]  # store columns survive the funnel
    dists = [d["distance"] for d in docs]
    assert dists == sorted(dists) and len(docs) == 4
    # funnel output matches the exact scan on this planted store
    exact_ids = [r["id"] for r in similarity_topk(store, qv, k=4).collect()]
    assert [d["id"] for d in docs] == exact_ids
    # second query reuses the prepared TieredStore (no rebuild, still no probe)
    pipe.retrieve("q")
    assert len(probe_log) == warm_probes
    # a refused tier raises BEFORE any retrieval runs
    pipe2 = ChatPipeline(
        store=store,
        embed_query=lambda _q: qv,
        llm=MockLLM(),
        settings=RagSettings(search_tier="matryoshka16_rerank", grading=False),
        tier_gate=lambda t: cat.assert_tier_usable(name, t, floor=1.01, **PROBE_KW),
    )
    with pytest.raises(ValueError, match="refused for store"):
        pipe2.retrieve("q")


def test_distinct_floor_configs_cache_independently(cat_store, probe_log):
    """A serving gate at the default floor and an offline job at a stricter
    floor occupy separate config slots under one fingerprint — alternating
    callers must not thrash the 10-19s probe (review finding r8)."""
    cat, name, _vs = cat_store
    cat.tier_verdicts(name, tiers=["matryoshka16_rerank"], **PROBE_KW)           # 0.8
    cat.tier_verdicts(name, tiers=["matryoshka16_rerank"], floor=0.95, **PROBE_KW)
    assert len(probe_log) == 2
    # alternate again: both configs served from cache
    cat.tier_verdicts(name, tiers=["matryoshka16_rerank"], **PROBE_KW)
    cat.tier_verdicts(name, tiers=["matryoshka16_rerank"], floor=0.95, **PROBE_KW)
    assert len(probe_log) == 2


def test_distinct_probe_configs_cache_independently(cat_store, probe_log):
    """ADVICE r8 low: the cache key folds in EVERY probe parameter — a
    verdict probed under a small store_cap (or different n_queries /
    id/vec columns) must never be silently served to a request with a
    different probe configuration on the same store version."""
    cat, name, _vs = cat_store
    cat.tier_verdicts(name, tiers=["matryoshka16_rerank"], **PROBE_KW)
    assert len(probe_log) == 1
    # same floor/k but a different store_cap -> separate slot, new probe
    cat.tier_verdicts(name, tiers=["matryoshka16_rerank"],
                      n_queries=4, store_cap=500)
    assert len(probe_log) == 2
    # different n_queries -> a third slot
    cat.tier_verdicts(name, tiers=["matryoshka16_rerank"],
                      n_queries=8, store_cap=2000)
    assert len(probe_log) == 3
    # each configuration now serves from its own cached slot
    cat.tier_verdicts(name, tiers=["matryoshka16_rerank"], **PROBE_KW)
    cat.tier_verdicts(name, tiers=["matryoshka16_rerank"],
                      n_queries=4, store_cap=500)
    cat.tier_verdicts(name, tiers=["matryoshka16_rerank"],
                      n_queries=8, store_cap=2000)
    assert len(probe_log) == 3


def test_search_tier_without_gate_raises(cat_store):
    """search_tier with no tier_gate must raise, not silently serve an
    unguarded compressed tier (review finding r8)."""
    from oaim_sandbox_spark.serving.chat import ChatPipeline, MockLLM, RagSettings

    cat, name, _vs = cat_store
    store = cat.read_store(name)
    pipe = ChatPipeline(
        store=store, embed_query=lambda _q: [0.0] * DIM, llm=MockLLM(),
        settings=RagSettings(search_tier="matryoshka16_rerank", grading=False),
    )
    with pytest.raises(ValueError, match="no tier_gate"):
        pipe.retrieve("q")


def test_tiered_store_metric_ladder(cat_store):
    """Per-metric ladder (VERDICT r8 task #4, completed r9 task #5): every
    servable tier accepts all three metrics — int8 by quantization algebra,
    the re-rank tiers by an exact-metric stage 2 — and a metric outside the
    engine's set raises at construction."""
    from oaim_sandbox_spark.operators.tier_guard import TieredStore

    cat, name, _vs = cat_store
    TieredStore(cat.read_store(name), "int8", metric="EUCLIDEAN_DISTANCE")
    TieredStore(cat.read_store(name), "int8", metric="DOT_PRODUCT")
    TieredStore(cat.read_store(name), "matryoshka16_rerank",
                metric="EUCLIDEAN_DISTANCE")
    with pytest.raises(ValueError, match="serves .* only"):
        TieredStore(cat.read_store(name), "matryoshka16_rerank",
                    metric="TANIMOTO")


def test_tier_cache_keyed_by_metric_never_serves_wrong_metric(cat_store):
    """A COSINE-prepared TieredStore must not satisfy a later DOT_PRODUCT
    request from the cache (review r8b): with the re-rank ladder now
    carrying dot product (r9 task #5), the second request builds its OWN
    (tier, DOT_PRODUCT) entry — two cache slots, never a silent reuse —
    and serves the exact dot-product order."""
    from oaim_sandbox_spark.operators.retrieval import similarity_topk
    from oaim_sandbox_spark.serving.chat import ChatPipeline, MockLLM, RagSettings

    cat, name, _vs = cat_store
    store = cat.read_store(name)
    qv = [float(x) for x in store.first()["embedding"]]
    pipe = ChatPipeline(
        store=store, embed_query=lambda _q: qv, llm=MockLLM(),
        settings=RagSettings(search_tier="matryoshka16_rerank", grading=False),
        # two-arg explicit-bypass gate: reaches TieredStore's metric ladder
        # (a one-arg gate would be stopped earlier by the metric-aware-gate
        # guard — covered by test_non_cosine_tier_requires_metric_aware_gate)
        tier_gate=lambda t, m="COSINE": {"operating_point": None},
    )
    assert pipe.retrieve("q")  # warms the (tier, COSINE) cache
    assert set(pipe._tiered) == {("matryoshka16_rerank", "COSINE")}
    docs = pipe.retrieve("q", s=RagSettings(search_tier="matryoshka16_rerank",
                                            distance_metric="DOT_PRODUCT"))
    assert set(pipe._tiered) == {("matryoshka16_rerank", "COSINE"),
                                 ("matryoshka16_rerank", "DOT_PRODUCT")}
    exact_ids = [r["id"] for r in
                 similarity_topk(store, qv, k=4, metric="DOT_PRODUCT").collect()]
    assert [d["id"] for d in docs] == exact_ids


def test_int8_rep_materializes_quantized_columns_only(cat_store):
    """The int8 TieredStore must persist the quantized representation (the
    4x win) plus one norm scalar per row, never the dequantized doubles
    (review finding r8)."""
    from oaim_sandbox_spark.operators.tier_guard import TieredStore

    cat, name, _vs = cat_store
    ts = TieredStore(cat.read_store(name), "int8")
    assert set(ts._rep.columns) == {"vec_id", "qvec", "qscale", "qnorm"}
    dtypes = dict(ts._rep.dtypes)
    assert dtypes["qvec"] == "array<tinyint>" and dtypes["qnorm"] == "double"
    assert "array<double>" not in dtypes.values(), dtypes
    qv = [float(x) for x in cat.read_store(name).filter("id = 7").first()["embedding"]]
    hits = ts.topk(qv, k=3).collect()
    assert len(hits) == 3 and hits[0]["id"] == 7  # self is nearest


def _int8_parity_store(spark):
    """40 planted rows plus a zero vector, a NULL embedding (not the first
    row: the tier reads its dimension from the first row) and two copies of
    row 5's vector, so ids 5, 42 and 43 tie on distance."""
    rows = [(int(r["id"]), r["text"], [float(x) for x in r["embedding"]])
            for r in _planted(spark, n=40).orderBy("id").collect()]
    rows.append((40, "zero", [0.0] * DIM))
    rows.append((41, "null", None))
    rows += [(42, "dup a", rows[5][2]), (43, "dup b", rows[5][2])]
    store = spark.createDataFrame(rows, "id BIGINT, text STRING, embedding ARRAY<DOUBLE>")
    queries = [(0, [0.0] * DIM), (1, rows[5][2]), (2, rows[17][2]),
               (3, [-1.5 * x for x in rows[30][2]]),
               (4, [float("inf")] + [0.0] * (DIM - 1))]
    return store, queries


@pytest.mark.parametrize("metric", ["COSINE", "DOT_PRODUCT", "EUCLIDEAN_DISTANCE"])
def test_int8_fused_scan_matches_dequantize_then_knn_join(spark, metric):
    """The fused int8 scorer returns the ids and the distances of the
    dequantize-then-score expression: the exact knn_join over
    dequantize_embeddings(quantize_embeddings(store)), for the single-query
    and the batch path. Distances compare by repr, which is exact and lets
    NaN equal NaN. Covers a zero vector, a NULL embedding, distance ties
    between duplicate vectors, a zero query and a query holding inf (its
    distances are NaN or infinite)."""
    from oaim_sandbox_spark.operators.ann import (
        dequantize_embeddings,
        knn_join,
        quantize_embeddings,
    )
    from oaim_sandbox_spark.operators.tier_guard import TieredStore

    k = 6
    store, queries = _int8_parity_store(spark)
    qdf = spark.createDataFrame(queries, "query_id BIGINT, query_vec ARRAY<DOUBLE>")
    deq = dequantize_embeddings(quantize_embeddings(store.select(
        F.col("id").alias("vec_id"), "embedding")))
    want: dict[int, list] = {}
    for r in knn_join(deq, qdf, k=k, metric=metric).orderBy("query_id", "rank").collect():
        want.setdefault(r["query_id"], []).append((r["neighbor_id"], repr(r["distance"])))
    tied = [d for i, d in want[1] if i in (5, 42, 43)]
    assert len(tied) == 3 and len(set(tied)) == 1  # the duplicates tie

    ts = TieredStore(store, "int8", metric=metric)
    batch: dict[int, list] = {}
    for r in ts.topk_batch(queries, k=k).collect():
        batch.setdefault(r["query_id"], []).append((r["id"], repr(r["distance"])))
    assert batch == want
    for qid, qv in queries:
        got = [(r["id"], repr(r["distance"])) for r in ts.topk(qv, k=k).collect()]
        assert got == want[qid], (qid, got, want[qid])
    ts.close()


def test_int8_topk_runs_one_fused_scan(spark):
    """A single-query int8 topk plans like similarity_topk: one read of the
    prepared relation, TakeOrderedAndProject, no rank window and no
    nested-loop pair join, and at most 4 Spark jobs for its collect()."""
    from oaim_sandbox_spark.operators.tier_guard import TieredStore

    store = _planted(spark, n=300)
    qv = [float(x) for x in store.filter("id = 9").first()["embedding"]]
    ts = TieredStore(store, "int8")
    df = ts.topk(qv, k=4)
    sc = spark.sparkContext
    sc.setJobGroup("int8_topk_pin", "int8 topk job count")
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("int8_topk_pin")
    assert rows[0]["id"] == 9 and len(rows) == 4
    assert len(jobs) <= 4, jobs
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # the adaptive final plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    # the store side is a Range; the prepared relation is the one RDD scan
    scans = [ln for ln in plan.splitlines() if "ExistingRDD" in ln]
    assert len(scans) == 1 and "qvec" in scans[0], plan
    ts.close()


def test_rerank_tier_serves_euclidean_exact_order(cat_store):
    """Third metric through a re-rank tier (the ladder's remaining leg):
    a EUCLIDEAN_DISTANCE TieredStore over pca16_rerank returns the exact
    euclidean top-k order on the planted store (stage 2 computes the
    requested metric exactly; stage-1 coverage is the only slack and the
    planted clusters give it margin)."""
    from oaim_sandbox_spark.operators.retrieval import similarity_topk
    from oaim_sandbox_spark.operators.tier_guard import TieredStore

    cat, name, _vs = cat_store
    store = cat.read_store(name)
    qv = [float(x) for x in store.filter("id = 7").first()["embedding"]]
    ts = TieredStore(store, "pca16_rerank", metric="EUCLIDEAN_DISTANCE")
    got = [r["id"] for r in ts.topk(qv, k=4).collect()]
    want = [r["id"] for r in
            similarity_topk(store, qv, k=4, metric="EUCLIDEAN_DISTANCE").collect()]
    assert got == want


def test_gated_tiered_serving_second_metric(cat_store, probe_log):
    """VERDICT r8 task #4 end-to-end: TieredStore serves a SECOND metric
    (int8 under DOT_PRODUCT) behind the same persisted verdict gate. The
    two-arg tier_gate keys the sidecar verdict per (tier, metric) — the
    dot-product probe occupies its own config slot — and the funnel output
    matches the exact dot-product scan on the planted store."""
    from oaim_sandbox_spark.operators.retrieval import similarity_topk
    from oaim_sandbox_spark.serving.chat import ChatPipeline, MockLLM, RagSettings

    cat, name, _vs = cat_store
    store = cat.read_store(name)
    qv = [float(x) for x in store.filter("id = 7").first()["embedding"]]
    pipe = ChatPipeline(
        store=store,
        embed_query=lambda _q: qv,
        llm=MockLLM(),
        settings=RagSettings(search_tier="int8", distance_metric="DOT_PRODUCT",
                             grading=False),
        tier_gate=lambda t, m="COSINE": cat.assert_tier_usable(
            name, t, metric=m, **PROBE_KW),
    )
    docs = pipe.retrieve("q")
    assert len(probe_log) == 1 and probe_log[0] == ["int8"]
    exact_ids = [r["id"] for r in
                 similarity_topk(store, qv, k=4, metric="DOT_PRODUCT").collect()]
    assert [d["id"] for d in docs] == exact_ids
    # the verdict persisted per (tier, metric): a cosine request on the same
    # tier probes its OWN slot; re-asking either metric costs zero probes
    pipe2 = ChatPipeline(
        store=store, embed_query=lambda _q: qv, llm=MockLLM(),
        settings=RagSettings(search_tier="int8", grading=False),
        tier_gate=lambda t, m="COSINE": cat.assert_tier_usable(
            name, t, metric=m, **PROBE_KW),
    )
    pipe2.retrieve("q")
    assert len(probe_log) == 2
    pipe.retrieve("q"); pipe2.retrieve("q")
    assert len(probe_log) == 2
    # and a RE-RANK tier serves the second metric end-to-end behind its own
    # per-(tier, metric) persisted verdict (r9 task #5: one more probe for
    # the new slot, then cached)
    pipe3 = ChatPipeline(
        store=store, embed_query=lambda _q: qv, llm=MockLLM(),
        settings=RagSettings(search_tier="binary_hamming_rerank",
                             distance_metric="DOT_PRODUCT", grading=False),
        tier_gate=lambda t, m="COSINE": cat.assert_tier_usable(
            name, t, metric=m, **PROBE_KW),
    )
    docs3 = pipe3.retrieve("q")
    assert len(probe_log) == 3 and probe_log[2] == ["binary_hamming_rerank"]
    assert [d["id"] for d in docs3] == exact_ids
    pipe3.retrieve("q")
    assert len(probe_log) == 3  # verdict cached per (tier, metric)


def test_legacy_gate_shapes_still_work_for_cosine(cat_store, probe_log):
    """Review r9: gate dispatch must not signature-sniff. A legacy gate with
    an extra DEFAULTED param (or a partial) is called with the tier only
    under COSINE — the metric string must never land in its second
    parameter — while a metric-aware two-arg gate without a default gets
    the TypeError fallback."""
    from oaim_sandbox_spark.serving.chat import ChatPipeline, MockLLM, RagSettings

    cat, name, _vs = cat_store
    store = cat.read_store(name)
    qv = [float(x) for x in store.filter("id = 7").first()["embedding"]]
    seen = []

    def legacy_gate(tier, floor=0.8):  # extra non-metric param w/ default
        seen.append((tier, floor))
        return cat.assert_tier_usable(name, tier, floor=floor, **PROBE_KW)

    pipe = ChatPipeline(
        store=store, embed_query=lambda _q: qv, llm=MockLLM(),
        settings=RagSettings(search_tier="int8", grading=False),
        tier_gate=legacy_gate,
    )
    assert pipe.retrieve("q")
    assert seen == [("int8", 0.8)]  # floor untouched — no metric misrouting

    def strict_gate(tier, metric):  # metric-aware, no default
        return cat.assert_tier_usable(name, tier, metric=metric, **PROBE_KW)

    pipe2 = ChatPipeline(
        store=store, embed_query=lambda _q: qv, llm=MockLLM(),
        settings=RagSettings(search_tier="int8", grading=False),
        tier_gate=strict_gate,
    )
    assert pipe2.retrieve("q")  # TypeError fallback reaches the two-arg call


def test_non_cosine_tier_requires_metric_aware_gate(cat_store):
    """Review r9: a one-arg legacy gate must NOT silently gate a non-cosine
    int8 request with its cosine-probed verdict — the pipeline raises and
    names the required wiring."""
    from oaim_sandbox_spark.serving.chat import ChatPipeline, MockLLM, RagSettings

    cat, name, _vs = cat_store
    store = cat.read_store(name)
    qv = [float(x) for x in store.filter("id = 7").first()["embedding"]]
    pipe = ChatPipeline(
        store=store, embed_query=lambda _q: qv, llm=MockLLM(),
        settings=RagSettings(search_tier="int8", distance_metric="DOT_PRODUCT",
                             grading=False),
        tier_gate=lambda t: cat.assert_tier_usable(name, t, **PROBE_KW),
    )
    with pytest.raises(ValueError, match="metric-aware tier_gate"):
        pipe.retrieve("q")


def test_cosine_default_metric_normalized_out_of_cfg_key(cat_store, probe_log):
    """Review r9: explicitly passing metric='COSINE' (the recommended gate
    wiring always forwards it) must hit the SAME cache slot as omitting it
    — not fork a second slot and re-pay the 10-19s probe."""
    cat, name, _vs = cat_store
    cat.tier_verdicts(name, tiers=["int8"], **PROBE_KW)
    assert len(probe_log) == 1
    cat.tier_verdicts(name, tiers=["int8"], metric="COSINE", **PROBE_KW)
    assert len(probe_log) == 1  # served from the metric-less slot


def test_retrieve_batch_row_identity_and_one_scan(cat_store):
    """VERDICT r10 task #4: the serving surface consumes
    TieredStore.topk_batch — ChatPipeline.retrieve_batch answers MANY
    questions through ONE stage-1 scan over the tier representation, rows
    identical to the per-question retrieve() path, behind the same
    tier_gate."""
    from oaim_sandbox_spark.serving.chat import ChatPipeline, MockLLM, RagSettings

    cat, name, _vs = cat_store
    store = cat.read_store(name)
    vecs = {
        f"question {i}": [float(x) for x in
                          store.filter(f"id = {7 + 5 * i}").first()["embedding"]]
        for i in range(3)
    }
    pipe = ChatPipeline(
        store=store,
        embed_query=lambda q: vecs[q],
        llm=MockLLM(),
        settings=RagSettings(search_tier="matryoshka16_rerank", grading=False),
        tier_gate=lambda t: cat.assert_tier_usable(name, t, **PROBE_KW),
    )
    qs = list(vecs)
    batch = pipe.retrieve_batch(qs)
    for q, rows in zip(qs, batch):
        single = pipe.retrieve(q)
        assert [(r["id"], r["distance"]) for r in rows] == \
               [(r["id"], r["distance"]) for r in single], q
    # ONE stage-1 scan: the batch plan reads the prepared (checkpointed)
    # tier representation exactly once for all three queries — the
    # per-question path would scan it len(qs) times across jobs
    ts = pipe._tiered[("matryoshka16_rerank", "COSINE")]
    df = ts.topk_batch([(i, vecs[q]) for i, q in enumerate(qs)],
                       k=pipe.settings.top_k)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the rep's checkpoint scan carries the prefix column (embp); the tiny
    # query batch is also an ExistingRDD but has its own schema
    rep_scans = [ln for ln in plan.splitlines()
                 if "ExistingRDD" in ln and "embp" in ln]
    assert len(rep_scans) == 1, plan
    # an ungated batch request refuses exactly like the per-question path
    with pytest.raises(ValueError, match="search_tier"):
        ChatPipeline(
            store=store, embed_query=lambda q: vecs[q], llm=MockLLM(),
            settings=RagSettings(grading=False),
            tier_gate=lambda t: cat.assert_tier_usable(name, t, **PROBE_KW),
        ).retrieve_batch(qs)


def test_evaluate_testset_batched_matches_per_question(cat_store, spark):
    """End-to-end consumer: evaluate_testset_batched (one topk_batch for
    the whole testset) produces the IDENTICAL report to evaluate_testset
    driven by the per-question retrieve() + the same prompt assembly."""
    from oaim_sandbox_spark.operators.testbed import (
        evaluate_testset,
        evaluate_testset_batched,
    )
    from oaim_sandbox_spark.serving.chat import (
        ChatPipeline,
        Message,
        MockLLM,
        RagSettings,
    )

    cat, name, _vs = cat_store
    store = cat.read_store(name)
    vecs = {
        f"question {i}": [float(x) for x in
                          store.filter(f"id = {3 + 7 * i}").first()["embedding"]]
        for i in range(4)
    }
    pipe = ChatPipeline(
        store=store,
        embed_query=lambda q: vecs[q],
        llm=MockLLM(),
        settings=RagSettings(search_tier="matryoshka16_rerank", grading=False),
        tier_gate=lambda t: cat.assert_tier_usable(name, t, **PROBE_KW),
    )
    qa = spark.createDataFrame(
        [(q, "doc", "general") for q in vecs],
        "question STRING, reference_answer STRING, topic STRING",
    )
    judge_factory = lambda: (lambda q, ref, ans: ref in ans.lower())  # noqa: E731

    got = evaluate_testset_batched(spark, qa, pipe, judge_factory, tid="t1")

    llm = pipe.llm
    # the per-question expectation uses the SAME shared prompt assembly
    # serving uses (r11 review: a hand-copied f-string here would let the
    # two paths drift apart unnoticed)
    per_q_sys = {
        q: pipe.assemble_system_prompt(
            pipe.sys_prompt, [{"text": r["text"]} for r in pipe.retrieve(q)]
        )
        for q in vecs
    }

    def per_question_factory():
        def answer(question: str) -> str:
            return llm.complete([Message("system", per_q_sys[question]),
                                 Message("user", question)])
        return answer

    want = evaluate_testset(spark, qa, per_question_factory, judge_factory, tid="t1")
    assert got.correctness == want.correctness
    assert got.by_topic == want.by_topic
    assert sorted(f["question"] for f in got.failures) == \
           sorted(f["question"] for f in want.failures)

    # grading=True path (r11 second-pass review: previously untested):
    # MockLLM's grader rejects these contexts ('doc N' shares no >3-char
    # word with 'question i'), so BOTH paths must route every question to
    # UNGROUNDED generation — and the gate demonstrably fires
    pipe_graded = ChatPipeline(
        store=store,
        embed_query=lambda q: vecs[q],
        llm=MockLLM(),
        settings=RagSettings(search_tier="matryoshka16_rerank", grading=True),
        tier_gate=lambda t: cat.assert_tier_usable(name, t, **PROBE_KW),
    )
    q0 = next(iter(vecs))
    assert not pipe_graded.grade(q0, [{"text": r["text"]}
                                      for r in pipe_graded.retrieve(q0)])
    got_g = evaluate_testset_batched(spark, qa, pipe_graded, judge_factory, tid="t2")
    per_q_sys_g = {}
    for q in vecs:
        docs = [{"text": r["text"]} for r in pipe_graded.retrieve(q)]
        if docs and not pipe_graded.grade(q, docs):
            docs = []
        per_q_sys_g[q] = pipe_graded.assemble_system_prompt(
            pipe_graded.sys_prompt, docs)
    # every question failed the gate -> ungrounded prompt == bare sys
    assert all(s == pipe_graded.sys_prompt for s in per_q_sys_g.values())
    llm_g = pipe_graded.llm

    def per_question_graded_factory():
        def answer(question: str) -> str:
            return llm_g.complete([Message("system", per_q_sys_g[question]),
                                   Message("user", question)])
        return answer

    want_g = evaluate_testset(spark, qa, per_question_graded_factory,
                              judge_factory, tid="t2")
    assert got_g.correctness == want_g.correctness
    assert sorted(f["question"] for f in got_g.failures) == \
           sorted(f["question"] for f in want_g.failures)

    # rag_enabled=False routing: the batched eval must answer ungrounded
    # exactly like chat(), not retrieve anyway
    pipe_norag = ChatPipeline(
        store=store, embed_query=lambda q: vecs[q], llm=MockLLM(),
        settings=RagSettings(rag_enabled=False,
                             search_tier="matryoshka16_rerank", grading=False),
        tier_gate=lambda t: cat.assert_tier_usable(name, t, **PROBE_KW),
    )
    got_n = evaluate_testset_batched(spark, qa, pipe_norag, judge_factory, tid="t3")
    llm_n, sys_n = pipe_norag.llm, pipe_norag.sys_prompt  # no pipe in closure

    def ungrounded_factory():
        def answer(question: str) -> str:
            return llm_n.complete(
                [Message("system", sys_n), Message("user", question)])
        return answer

    want_n = evaluate_testset(spark, qa, ungrounded_factory, judge_factory, tid="t3")
    assert got_n.correctness == want_n.correctness


def test_topk_batch_df_matches_list_path_all_tiers(spark):
    """VERDICT r11 #5 plumbing: topk_batch_df (DataFrame query side — the
    distributed evaluator's path) returns row-identical results to
    topk_batch (the probe harness's list path) on EVERY servable tier —
    the df branches of the binary packer and the PCA projector share the
    store-side expressions, and this pins that they also agree with the
    driver-side packing/projection byte for byte."""
    from oaim_sandbox_spark.operators.tier_guard import TieredStore

    store = _planted(spark, n=300)
    queries = [
        (i, [float(x) for x in store.filter(f"id = {11 + 13 * i}").first()["embedding"]])
        for i in range(3)
    ]
    qdf = spark.createDataFrame(queries, "query_id BIGINT, query_vec ARRAY<DOUBLE>")
    for tier in ("int8", "binary_hamming_rerank", "matryoshka16_rerank",
                 "pca16_rerank"):
        ts = TieredStore(store, tier)
        via_list = [(r["query_id"], r["id"], r["distance"], r["rank"])
                    for r in ts.topk_batch(queries, k=4).collect()]
        via_df = [(r["query_id"], r["id"], r["distance"], r["rank"])
                  for r in ts.topk_batch_df(qdf, k=4).collect()]
        assert via_list == via_df, tier
        assert len(via_df) == 3 * 4, tier


def test_topk_batch_query_side_has_no_python_rdd(spark):
    """topk_batch builds its query relation from Arrow: a LocalRelation,
    not a LogicalRDD over a Python RDD, so no action on it starts a Python
    worker."""
    from oaim_sandbox_spark.operators.tier_guard import TieredStore

    store = _planted(spark, n=120)
    qv = [float(x) for x in store.filter("id = 5").first()["embedding"]]
    ts = TieredStore(store, "matryoshka16_rerank")
    df = ts.topk_batch([(0, qv), (1, qv[::-1])], k=3)
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    kinds, lineages = [], []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kinds.append(leaf.getClass().getSimpleName())
        if kinds[-1] == "LogicalRDD":
            lineages.append(leaf.rdd().toDebugString())
    assert "LocalRelation" in kinds, kinds
    assert not [ln for ln in lineages if "PythonRDD" in ln], lineages
    rows = df.collect()
    assert [r["query_id"] for r in rows] == [0, 0, 0, 1, 1, 1]
    assert rows[0]["id"] == 5 and rows[0]["distance"] == 0.0
    ts.close()


def test_evaluate_testset_batched_no_driver_dict_and_duplicates(cat_store, spark):
    """The r12 rewrite removed the question-keyed driver dict and the 10k
    cap: duplicate question rows evaluate per-row (join fans contexts back
    out), and the answer UDF receives rank-ordered contexts identical to
    retrieve()'s — asserted through the report produced by a judge that
    inspects the grounded answer."""
    import inspect

    from oaim_sandbox_spark.operators.testbed import (
        evaluate_testset,
        evaluate_testset_batched,
    )
    from oaim_sandbox_spark.serving.chat import (
        ChatPipeline,
        Message,
        MockLLM,
        RagSettings,
    )

    # structural: the cap parameter (the bounded-driver-dict contract) is gone
    assert "max_batch_questions" not in inspect.signature(
        evaluate_testset_batched).parameters

    cat, name, _vs = cat_store
    store = cat.read_store(name)
    vecs = {
        f"question {i}": [float(x) for x in
                          store.filter(f"id = {2 + 9 * i}").first()["embedding"]]
        for i in range(3)
    }
    pipe = ChatPipeline(
        store=store,
        embed_query=lambda q: vecs[q],
        llm=MockLLM(),
        settings=RagSettings(search_tier="matryoshka16_rerank", grading=False),
        tier_gate=lambda t: cat.assert_tier_usable(name, t, **PROBE_KW),
    )
    # duplicate rows for question 0 (different topics so the report shows
    # both were evaluated)
    rows = [(q, "doc", "general") for q in vecs]
    rows.append(("question 0", "doc", "dup_topic"))
    qa = spark.createDataFrame(
        rows, "question STRING, reference_answer STRING, topic STRING")
    judge_factory = lambda: (lambda q, ref, ans: ref in ans.lower())  # noqa: E731

    got = evaluate_testset_batched(spark, qa, pipe, judge_factory, tid="tdup")
    assert "dup_topic" in got.by_topic  # the duplicate row WAS evaluated

    llm = pipe.llm
    per_q_sys = {
        q: pipe.assemble_system_prompt(
            pipe.sys_prompt, [{"text": r["text"]} for r in pipe.retrieve(q)])
        for q in vecs
    }

    def per_question_factory():
        def answer(question: str) -> str:
            return llm.complete([Message("system", per_q_sys[question]),
                                 Message("user", question)])
        return answer

    want = evaluate_testset(spark, qa, per_question_factory, judge_factory,
                            tid="tdup")
    assert got.correctness == want.correctness
    assert got.by_topic == want.by_topic


def test_evaluate_testset_batched_grades_once_per_distinct_question(
        cat_store, spark, tmp_path):
    """ADVICE r12: the relevance gate runs once per DISTINCT question (in
    the dim-sized ctx stage), not once per qa row — duplicate questions
    must not pay duplicate gate LLM calls, and a nondeterministic grader
    can no longer route identical questions differently within one
    evaluation. Counted through a file-logging grader LLM."""
    from oaim_sandbox_spark.operators.testbed import evaluate_testset_batched
    from oaim_sandbox_spark.serving.chat import (
        ChatPipeline,
        LLMClient,
        MockLLM,
        RagSettings,
    )

    log = str(tmp_path / "gate_calls.log")

    class CountingLLM(LLMClient):
        """MockLLM that appends one line per GRADE call (the executor-side
        python workers share the local FS, so the line count is the true
        cross-process gate-call total)."""

        def complete(self, messages):
            sys = next((m.content for m in messages if m.role == "system"), "")
            user = next((m.content for m in messages if m.role == "user"), "")
            if "relevance grader" in sys.lower():
                with open(log, "a") as fh:
                    fh.write(user.replace("\n", " ") + "\n")
            return MockLLM().complete(messages)

    cat, name, _vs = cat_store
    store = cat.read_store(name)
    vecs = {
        f"question {i}": [float(x) for x in
                          store.filter(f"id = {2 + 9 * i}").first()["embedding"]]
        for i in range(3)
    }
    pipe = ChatPipeline(
        store=store,
        embed_query=lambda q: vecs[q],
        llm=CountingLLM(),
        settings=RagSettings(search_tier="matryoshka16_rerank", grading=True),
        tier_gate=lambda t: cat.assert_tier_usable(name, t, **PROBE_KW),
    )
    # question 0 appears THREE times (5 rows, 3 distinct questions)
    rows = [(q, "doc", "general") for q in vecs]
    rows += [("question 0", "doc", "dup_a"), ("question 0", "doc", "dup_b")]
    qa = spark.createDataFrame(
        rows, "question STRING, reference_answer STRING, topic STRING")
    report = evaluate_testset_batched(
        spark, qa, pipe, lambda: (lambda q, ref, ans: True), tid="tgate")
    assert len(report.by_topic) == 3  # general + dup_a + dup_b all evaluated
    with open(log) as fh:
        graded = sorted(line.strip() for line in fh)
    assert graded == sorted(vecs), graded  # exactly one gate call per distinct question


def test_evaluate_testset_batched_refuses_untiered(cat_store, spark):
    """Review r12: with RAG on but no search_tier the batched evaluator
    must refuse with the retrieve_batch contract message, not let
    TieredStore(None) raise obscurely."""
    from oaim_sandbox_spark.operators.testbed import evaluate_testset_batched
    from oaim_sandbox_spark.serving.chat import ChatPipeline, MockLLM, RagSettings

    cat, name, _vs = cat_store
    store = cat.read_store(name)
    pipe = ChatPipeline(
        store=store, embed_query=lambda q: [0.0], llm=MockLLM(),
        settings=RagSettings(grading=False),  # rag on, NO tier
        tier_gate=lambda t: cat.assert_tier_usable(name, t, **PROBE_KW),
    )
    qa = spark.createDataFrame([("q", "a", "t")],
                               "question STRING, reference_answer STRING, topic STRING")
    with pytest.raises(ValueError, match="search_tier"):
        evaluate_testset_batched(spark, qa, pipe, lambda: (lambda q, r, a: True))


def test_evaluate_testset_batched_null_question_and_reserved_columns(cat_store, spark):
    """Review r12 pass 3: a NULL question is refused BY NAME (previously it
    tripped the hash-collision assertion with a misleading message — and
    crashes the LLM call in either eval path anyway), and a qa frame
    already carrying the evaluator's context-join columns is refused with
    a rename hint."""
    from oaim_sandbox_spark.operators.testbed import evaluate_testset_batched
    from oaim_sandbox_spark.serving.chat import ChatPipeline, MockLLM, RagSettings

    cat, name, _vs = cat_store
    store = cat.read_store(name)
    qv = [float(x) for x in store.filter("id = 3").first()["embedding"]]
    pipe = ChatPipeline(
        store=store, embed_query=lambda q: qv, llm=MockLLM(),
        settings=RagSettings(search_tier="matryoshka16_rerank", grading=False),
        tier_gate=lambda t: cat.assert_tier_usable(name, t, **PROBE_KW),
    )
    qa = spark.createDataFrame(
        [("question 0", "doc", "general"), (None, "doc", "nulltopic")],
        "question STRING, reference_answer STRING, topic STRING")
    with pytest.raises(ValueError, match="NULL question"):
        evaluate_testset_batched(spark, qa, pipe,
                                 lambda: (lambda q, r, a: True), tid="tnull")

    good = qa.where(F.col("question").isNotNull())
    bad = good.withColumn("_ctx_texts", F.lit("x"))
    with pytest.raises(ValueError, match="_ctx_texts"):
        evaluate_testset_batched(spark, bad, pipe, lambda: (lambda q, r, a: True))
