"""Recall-floor guardrail for the ANN tier funnel.

The compressed search tiers (matryoshka prefix, binary sign-bit Hamming,
IVF at low nprobe, PQ-ADC) each ASSUME something about the embedding
distribution: matryoshka assumes a front-loaded (matryoshka-trained)
dimension order, sign-bit Hamming assumes centered/dense values, low
nprobe assumes coarse separability. On embeddings that violate the
assumption the tier silently returns near-noise — measured on the
engine's own hashed-BoW features: matryoshka16 recall@10 = 0.02, binary
Hamming 0.16, ivf_nprobe2 0.58 (BENCH recall_realistic) — with nothing
stopping a user from pointing the tier at such a store.

This module is the guard: a CHEAP sampled recall probe per (store, tier)
against the exact k-NN oracle on a deterministic sub-sample, and a
recommender that, per tier, either accepts the default operating point,
WIDENS it along the tier's documented ladder (the same widened points the
bench measures: matryoshka fetch 5x -> 15x, binary 20x -> 60x, IVF
nprobe 2 -> 4, PQ fetch_k 150 -> 400), or REFUSES the tier outright when
even the widened point misses the floor. `assert_tier_usable` is the
enforcing form (raises). Probe cost is bounded by `store_cap`
(deterministic hash-mod thinning — no partition-order bias) and
`n_queries`, independent of store size: at 100 TB the probe costs the
same as at 1 GB (measured: 19s on a 1M-vector store vs ~10-17s on 2k,
dominated by fixed probe work plus the one thinning scan —
tools/stress.py tierguard).

Thinning caveat (fail-safe direction): recall is measured on the thinned
SUB-store. Thinning preserves the bulk distribution the tier assumptions
depend on (sign balance, dimension order, coarse separability) but
DILUTES fine-grained neighborhoods — when the store's true neighborhood
size is below the thinning factor (store_size / store_cap), the
sub-store's exact top-k spans quasi-random far neighbors that no
compressed tier can rank, and the guard refuses tiers that might be fine
on the full store. Conservative refusals fail SAFE (you lose a tier, not
recall); when that costs a tier you want, raise `store_cap` so surviving
neighborhoods stay larger than k (measured on 1M planted vectors:
cluster size 50 with cap 20k -> ~1 survivor/cluster -> everything
coarse refused; cluster size 1000 -> ~20 survivors -> honest ok/widened
verdicts).

Reference anchor: the accuracy contract implied by the reference's
`FETCH APPROX`-style index search plus its testbed correctness gate
(src/server/utils/testbed.py:300-352) — the sandbox gates LLM answers on
measured correctness; this gates index tiers on measured recall.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from oaim_sandbox_spark.functions import portable as P
from oaim_sandbox_spark.materialize import materialize_relation, release_relation, scope
from oaim_sandbox_spark.operators.retrieval import arrow_matrix, distance_expr

DEFAULT_FLOOR = 0.8

# tier -> (default operating point, widened operating point or None).
# The ladders mirror the bench's measured recovery points (bench.ann_recall).
TIER_LADDER: dict[str, tuple[dict, dict | None]] = {
    "int8": ({}, None),
    "lsh8_multiprobe": ({"n_planes": 8}, None),
    "ivf": ({"nprobe": 2}, {"nprobe": 4}),
    "pq_adc_rerank": ({"fetch_k": 150}, {"fetch_k": 400}),
    "binary_hamming_rerank": ({"fetch_mult": 20}, {"fetch_mult": 60}),
    "matryoshka16_rerank": ({"fetch_mult": 5}, {"fetch_mult": 15}),
    "pca16_rerank": ({"fetch_mult": 5}, {"fetch_mult": 15}),
}

# tier -> metrics its funnel can serve (VERDICT r8 task #4, completed per
# r9 task #5). int8 keeps full-precision information per dimension, so the
# quantization algebra carries every metric: cosine (scales cancel), dot
# product and euclidean (dequantized values are within scale/254 per dim).
# The re-rank tiers' stage 2 computes the requested metric EXACTLY on the
# fetched full-precision vectors (dot product = cosine plus the norm term
# that stage already reads), so non-cosine metrics are a stage-1 COVERAGE
# question — do the cosine-geometry candidate generators (sign buckets,
# prefix/PCA subspace, ADC) fetch the metric's true neighbors — and the
# per-(store, tier, metric) measured recall verdict answers it before any
# query is served (measured on the test store, recall@10 default/widened
# identical to cosine under both metrics: binary 0.95/1.0, pq 0.86/0.99,
# pca16 0.71/0.94, matryoshka 0.54/0.76). IVF is two-stage by the same
# criterion (VERDICT r10 task #5): stage 1 is L2 CENTROID PRUNING — a
# geometry approximation, not a ranking — and IVFIndex.search/search_batch
# already compute the requested metric EXACTLY on the pruned full-precision
# rows, so ivf serves all three metrics behind per-metric verdicts too
# (the probe below scores the pruned candidates through
# IVFIndex._probe_scores, the builder search_batch/_multi serve with;
# measured on the planted test store: recall@10 = 1.0 for all three
# metrics at BOTH nprobe points). The per-STORE verdict is what carries
# this promotion, not store-independent algebra: on an adversarial MIPS
# store (high-norm vectors far from every query centroid — ADVICE r11)
# L2 centroid pruning prunes the inner-product winners and the
# DOT_PRODUCT probe measures the collapse and REFUSES (0.22/0.25 vs the
# same store's cosine 0.87/1.0; pinned in tests/test_tier_guard.py::
# test_ivf_dot_product_verdict_catches_mips_norm_outliers — int8 is the
# refusal path's alternative and passes on that store). Only LSH stays
# cosine-only: its buckets ARE the cosine ranking with no exact stage to
# reorder another metric.
TIER_METRICS: dict[str, tuple[str, ...]] = {
    "int8": ("COSINE", "DOT_PRODUCT", "EUCLIDEAN_DISTANCE"),
    "lsh8_multiprobe": ("COSINE",),
    "ivf": ("COSINE", "DOT_PRODUCT", "EUCLIDEAN_DISTANCE"),
    "pq_adc_rerank": ("COSINE", "DOT_PRODUCT", "EUCLIDEAN_DISTANCE"),
    "binary_hamming_rerank": ("COSINE", "DOT_PRODUCT", "EUCLIDEAN_DISTANCE"),
    "matryoshka16_rerank": ("COSINE", "DOT_PRODUCT", "EUCLIDEAN_DISTANCE"),
    "pca16_rerank": ("COSINE", "DOT_PRODUCT", "EUCLIDEAN_DISTANCE"),
}


def _thin_store(store: DataFrame, cap: int, id_col: str) -> DataFrame:
    """Deterministic hash-mod thinning to ~cap rows (divisor from
    round(n/cap), so the kept count stays within ~2x of cap at every n —
    ADVICE r6 flagged the floor-division form as loose near the boundary)."""
    n = store.count()
    if n <= cap:
        return store
    div = max(1, round(n / cap))
    return store.filter(F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(div)) == 0)


def _probe_frames(
    s, store: DataFrame, n_queries: int, store_cap: int, id_col: str, vec_col: str
):
    """(sub-store, query frame, queries list, dim): the query batch is the
    n_queries smallest ids in HASH order — deterministic yet spread across
    the whole id range. (The smallest raw ids would be a head-biased
    sample: on a store where vec_id correlates with ingest time or domain,
    recall measured only around the earliest region can pass a tier that
    collapses on the rest — the same partition-order footgun the IVF
    quantizer fit guards against.) Queries are excluded from the searched
    store so recall isn't inflated by self-matches."""
    sub = _thin_store(
        store.select(
            F.col(id_col).cast("bigint").alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("embedding"),
        ),
        store_cap,
        id_col="vec_id",
    )
    qrows = (
        sub.orderBy(F.xxhash64(F.col("vec_id").cast("string")), "vec_id")
        .limit(n_queries)
        .collect()
    )
    queries = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows]
    if not queries:
        raise ValueError("cannot probe an empty store")
    dim = len(queries[0][1])
    spark = store.sparkSession
    qdf = spark.createDataFrame(queries, "query_id BIGINT, query_vec ARRAY<DOUBLE>")
    qids = [qid for qid, _ in queries]
    sub = s.checkpoint(sub.filter(~F.col("vec_id").isin(qids)))
    return sub, qdf, queries, dim


def _sets(df: DataFrame) -> dict[int, set]:
    out: dict[int, set] = {}
    for r in df.select("query_id", "neighbor_id").collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def _recall(approx: dict[int, set], exact: dict[int, set], k: int) -> float:
    vals = [len(approx.get(q, set()) & exact[q]) / k for q in exact]
    return round(sum(vals) / len(vals), 4)


def exact_rerank(
    store: DataFrame, qdf: DataFrame, cand: DataFrame, k: int, metric: str = "COSINE"
) -> DataFrame:
    """Exact-metric re-rank of a (query_id, neighbor_id) candidate frame —
    the funnel's stage 2, shared by every re-rank tier. Candidates are
    bounded (fetch_mult * k * n_queries), so they broadcast. The metric is
    computed EXACTLY on the candidates' full-precision vectors (dot product
    is cosine plus the norm term this stage already reads — VERDICT r9
    task #5), so serving a non-cosine metric through a re-rank tier is a
    stage-1 COVERAGE question, answered by the per-(store, tier, metric)
    measured recall verdict, not an algebra question."""
    dist = distance_expr("embedding", P.to_double_array("query_vec", "spark"), metric)
    rr = (
        F.broadcast(cand.select("query_id", "neighbor_id"))
        .join(store.select(F.col("vec_id").alias("neighbor_id"), "embedding"), "neighbor_id")
        .join(F.broadcast(qdf), "query_id")
        .withColumn("distance", F.expr(f"round({dist}, 6)"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("neighbor_id").asc())
    return rr.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def sign_spans(dim: int) -> list[tuple[int, int]]:
    """(1-based start, length) spans packing `dim` sign bits into int64
    words of <=32 dims each."""
    return [(s + 1, min(32, dim - s)) for s in range(0, dim, 32)]


def pack_signs(store: DataFrame, dim: int) -> DataFrame:
    """Sign-bit packing of (vec_id, embedding) into (neighbor_id, w0..wN)
    int64 words — the binary tier's stored representation. Split out so a
    serving TieredStore can compute it ONCE per store while the probe/bench
    path packs inline."""
    spans = sign_spans(dim)
    return store.select(
        F.col("vec_id").alias("neighbor_id"),
        *[
            F.expr(P.sign_pack("cast(embedding as array<double>)", s, n, "spark")).alias(f"w{i}")
            for i, (s, n) in enumerate(spans)
        ],
    )


def binary_hamming_candidates(
    store: DataFrame, queries, dim: int, fetch_k: int, packed: DataFrame | None = None
) -> DataFrame:
    """Stage-1 of the binary (sign-bit) tier: pack signs into int64 words
    (<=32 dims each), rank by Hamming distance over the packed words, keep
    the fetch_k nearest per query. Returns (query_id, neighbor_id). The
    CANONICAL implementation — bench.ann_recall, the guard's probe, and the
    serving TieredStore (which passes its precomputed `packed`) all call
    this, so the measured ladder points and the guard's thresholds cannot
    drift apart (r7 self-review finding). ``queries`` is either the probe
    harness's [(query_id, vector)] list or a (query_id, query_vec)
    DataFrame (the distributed serving path, VERDICT r11 #5) — the
    DataFrame branch packs the query side with the SAME P.sign_pack
    expression pack_signs uses on the store, so both branches share one
    bit-packing definition (> 0 ⇒ bit set)."""
    spark = store.sparkSession
    spans = sign_spans(dim)
    if packed is None:
        packed = pack_signs(store, dim)
    if isinstance(queries, DataFrame):
        qdfb = queries.select(
            "query_id",
            *[
                F.expr(P.sign_pack("query_vec", s, n, "spark")).alias(f"u{i}")
                for i, (s, n) in enumerate(spans)
            ],
        )
    else:
        qrows = [
            (qid, *[sum(1 << j for j in range(n) if qv[s - 1 + j] > 0) for s, n in spans])
            for qid, qv in queries
        ]
        qddl = "query_id BIGINT, " + ", ".join(f"u{i} BIGINT" for i in range(len(spans)))
        qdfb = spark.createDataFrame(qrows, qddl)
    ham = " + ".join(f"bit_count(w{i} ^ u{i})" for i in range(len(spans)))
    hb = packed.crossJoin(F.broadcast(qdfb)).withColumn("hamming", F.expr(ham))
    w = Window.partitionBy("query_id").orderBy(F.col("hamming").asc(), F.col("neighbor_id").asc())
    return (
        hb.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= fetch_k)
        .select("query_id", "neighbor_id")
    )


def prefix_candidates(
    store: DataFrame, qdf: DataFrame, prefix_dim: int, fetch_k: int,
    storep: DataFrame | None = None,
) -> DataFrame:
    """Stage-1 of the matryoshka tier: k-NN over the leading prefix_dim
    dims only. Returns (query_id, neighbor_id). Canonical shared
    implementation (see binary_hamming_candidates); a serving TieredStore
    passes its precomputed (vec_id, embp) representation via ``storep`` —
    the same single-implementation contract as ``packed=`` (r10 review:
    an inline copy in topk_batch would let the probed funnel and the
    served one drift apart)."""
    from oaim_sandbox_spark.operators import ann as A

    if storep is None:
        storep = store.withColumn(
            "embp", F.expr(f"slice(cast(embedding as array<double>), 1, {prefix_dim})")
        )
    qdfp = qdf.withColumn("query_vec", F.expr(f"slice(query_vec, 1, {prefix_dim})"))
    return A.knn_join(storep, qdfp, k=fetch_k, item_vec="embp").select(
        "query_id", "neighbor_id"
    )


def pca_candidates(
    store: DataFrame, queries, n_components: int, fetch_k: int,
    pca=None, storep: DataFrame | None = None,
) -> DataFrame:
    """Stage-1 of the PCA tier: fit the learned subspace on the store
    (one-pass distributed Gram), project both sides, k-NN in the subspace.
    Returns (query_id, neighbor_id). Canonical shared implementation; a
    serving TieredStore passes its fitted ``pca`` and precomputed
    ``storep`` (vec_id, embp) so probe and serving share one funnel.
    ``queries`` is [(query_id, vector)] (probe harness) or a
    (query_id, query_vec) DataFrame (distributed serving, VERDICT r11 #5)
    — the DataFrame branch projects the query side through the SAME
    project_pca the store representation uses."""
    import numpy as np

    from oaim_sandbox_spark.operators import ann as A
    from oaim_sandbox_spark.operators.dim_reduce import fit_pca, project_pca

    spark = store.sparkSession
    if pca is None:
        pca = fit_pca(store, n_components=n_components)
    if storep is None:
        storep = project_pca(store, pca, out_col="embp")
    if isinstance(queries, DataFrame):
        qdfp = (
            project_pca(queries, pca, vec_col="query_vec", out_col="_qp")
            .select("query_id", F.col("_qp").alias("query_vec"))
        )
    else:
        qdfp = spark.createDataFrame(
            [
                (qid, ((np.asarray(qv) - pca.mean) @ pca.components.T).tolist())
                for qid, qv in queries
            ],
            "query_id BIGINT, query_vec ARRAY<DOUBLE>",
        )
    return A.knn_join(storep, qdfp, k=fetch_k, item_vec="embp").select(
        "query_id", "neighbor_id"
    )


def _tier_recall(
    s, tier: str, op: dict, store: DataFrame, qdf: DataFrame, queries, dim: int,
    exact: dict[int, set], k: int, metric: str = "COSINE",
) -> float:
    from oaim_sandbox_spark.operators import ann as A

    if tier == "int8":
        got = A.int8_knn_join(A.prepare_int8(store), qdf, k=k, metric=metric)
        return _recall(_sets(got), exact, k)
    if tier == "lsh8_multiprobe":
        got = A.lsh_knn_join(store, qdf, k=k, n_planes=op["n_planes"], dim=dim, multiprobe=True)
        return _recall(_sets(got), exact, k)
    if tier == "ivf":
        # the serving builder (IVFIndex._probe_scores, the scorer behind
        # search_batch/_multi) over the assigned sub-store: centroid pruning
        # is the only approximation, so the probe measures what is served
        idx = A.IVFIndex(n_centroids=16, seed=3, max_iter=10).fit(store)
        scored = idx._probe_scores(idx.assign(store), qdf, op["nprobe"], metric)
        got = A._ivf_top_k(scored, k, "query_id", "vec_id")
        return _recall(_sets(got.withColumnRenamed("vec_id", "neighbor_id")), exact, k)
    if tier == "pq_adc_rerank":
        pq = A.PQIndex(m=4, k=16, dim=dim, seed=3).fit(store)
        codes = s.checkpoint(pq.encode(store))
        cand = pq.search_batch(codes, qdf, k=op["fetch_k"]).select(
            "query_id", F.col("vec_id").alias("neighbor_id")
        )
        return _recall(_sets(exact_rerank(store, qdf, cand, k, metric)), exact, k)
    if tier == "binary_hamming_rerank":
        cand = binary_hamming_candidates(store, queries, dim, op["fetch_mult"] * k)
        return _recall(_sets(exact_rerank(store, qdf, cand, k, metric)), exact, k)
    if tier == "matryoshka16_rerank":
        cand = prefix_candidates(store, qdf, 16, op["fetch_mult"] * k)
        return _recall(_sets(exact_rerank(store, qdf, cand, k, metric)), exact, k)
    if tier == "pca16_rerank":
        cand = pca_candidates(store, queries, 16, op["fetch_mult"] * k)
        return _recall(_sets(exact_rerank(store, qdf, cand, k, metric)), exact, k)
    raise ValueError(f"unknown tier {tier!r}; one of {sorted(TIER_LADDER)}")


def sampled_tier_recall(
    store: DataFrame,
    tiers: list[str] | None = None,
    k: int = 10,
    n_queries: int = 8,
    store_cap: int = 20_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "COSINE",
) -> dict[str, dict]:
    """Measured recall@k per tier at BOTH ladder points on a deterministic
    sub-sample of the store. Returns
    {tier: {"recall": r_default, "widened_recall": r_widened|None}}.
    ``metric``: the serving metric to probe under — the exact oracle and the
    tier's approximate pass both rank with it. Only tiers whose funnel
    preserves the metric (TIER_METRICS) may be probed; asking a cosine-only
    tier for DOT_PRODUCT raises up front rather than measuring a number
    that means nothing."""
    from oaim_sandbox_spark.operators import ann as A

    # Validate names up front so the public entry points raise the
    # descriptive error, not a bare KeyError from TIER_LADDER[tier].
    tier_list = list(TIER_LADDER) if tiers is None else list(tiers)
    for t in tier_list:
        if t not in TIER_LADDER:
            raise ValueError(f"unknown tier {t!r}; one of {sorted(TIER_LADDER)}")
        if metric not in TIER_METRICS[t]:
            raise ValueError(
                f"tier {t!r} serves {TIER_METRICS[t]} only (got {metric!r}); "
                "it ranks by its cosine approximation with no exact re-rank "
                "stage to reorder another metric"
            )

    out: dict[str, dict] = {}
    # the probe's sub-store and PQ codes are freed once the figures are in
    with scope(store.sparkSession) as s:
        sub, qdf, queries, dim = _probe_frames(s, store, n_queries, store_cap, id_col, vec_col)
        exact = _sets(A.knn_join(sub, qdf, k=k, metric=metric))
        for tier in tier_list:
            default_op, widened_op = TIER_LADDER[tier]
            r = _tier_recall(s, tier, default_op, sub, qdf, queries, dim, exact, k, metric)
            rw = (
                _tier_recall(s, tier, widened_op, sub, qdf, queries, dim, exact, k, metric)
                if widened_op is not None
                else None
            )
            out[tier] = {"recall": r, "widened_recall": rw}
    return out


def recommend_tiers(
    store: DataFrame,
    tiers: list[str] | None = None,
    k: int = 10,
    n_queries: int = 8,
    floor: float = DEFAULT_FLOOR,
    store_cap: int = 20_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "COSINE",
) -> dict[str, dict]:
    """Per-tier verdict for THIS store:

    - ``ok``      — the default operating point meets the floor; use it.
    - ``widened`` — only the widened ladder point meets the floor; the
                    returned ``operating_point`` is the widened one.
    - ``refused`` — neither point meets the floor: the tier's distribution
                    assumption does not hold for these embeddings (e.g.
                    matryoshka on non-matryoshka-trained vectors). Use a
                    tier that keeps full-precision information (int8,
                    pca16_rerank) or the exact path.
    """
    measured = sampled_tier_recall(store, tiers, k, n_queries, store_cap, id_col,
                                   vec_col, metric)
    out: dict[str, dict] = {}
    for tier, m in measured.items():
        default_op, widened_op = TIER_LADDER[tier]
        if m["recall"] >= floor:
            status, op, eff = "ok", default_op, m["recall"]
        elif m["widened_recall"] is not None and m["widened_recall"] >= floor:
            status, op, eff = "widened", widened_op, m["widened_recall"]
        else:
            status, op, eff = "refused", None, max(m["recall"], m["widened_recall"] or 0.0)
        out[tier] = {
            "status": status,
            "operating_point": op,
            "effective_recall": eff,
            **m,
        }
    return out


# Canonical probe-parameter defaults, captured from the REAL function at
# module definition (callers must not re-inspect recommend_tiers at call
# time — test monkeypatching/wrapping would hide the defaults and silently
# fork semantically identical cache slots). catalog.tier_verdicts keys its
# sidecar slots against this.
import inspect as _inspect  # noqa: E402

PROBE_DEFAULTS = {
    _k: _p.default
    for _k, _p in _inspect.signature(recommend_tiers).parameters.items()
    if _p.default is not _inspect.Parameter.empty
}


def assert_tier_usable(
    store: DataFrame,
    tier: str,
    floor: float = DEFAULT_FLOOR,
    **probe_kwargs,
) -> dict:
    """Enforcing form: returns the accepted (possibly widened) operating
    point, or raises ValueError when the tier misses the floor on this
    store even widened — the guard that stops a matryoshka/binary tier
    from silently serving near-noise."""
    verdict = recommend_tiers(store, tiers=[tier], floor=floor, **probe_kwargs)[tier]
    if verdict["status"] == "refused":
        raise ValueError(
            f"tier {tier!r} refused for this store: sampled recall@10 "
            f"{verdict['recall']} (widened: {verdict['widened_recall']}) is below "
            f"the {floor} floor — its distribution assumption does not hold for "
            f"these embeddings; use int8/pca16_rerank or the exact path"
        )
    return verdict


# -- serving-side tiered retrieval -------------------------------------------

# Tiers a TieredStore can serve: their compressed representation is a pure
# column transform (or a bounded one-pass fit, for PCA) prepared once per
# store, with no index structure to persist. The stateful-index tiers serve
# through their own classes instead — ivf/pq via ann.IVFIndex / ann.PQIndex
# (fitted, disk-partitioned), lsh via ann.lsh_knn_join.
SERVABLE_TIERS = ("int8", "binary_hamming_rerank", "matryoshka16_rerank", "pca16_rerank")


class TieredStore:
    """Per-(store, tier) prepared serving state: the tier's compressed
    representation is computed ONCE and checkpointed, so each query pays
    one cheap stage-1 scan over the compressed columns — plus, for the
    re-rank tiers, a bounded exact re-rank against the full-precision
    vectors. These are the same canonical funnels the recall guard probes
    and the bench measures (int8_distance / pack_signs /
    knn_join-over-prefix / PCA projection + exact_rerank), reused verbatim.

    This is the 100 TB serving shape: stage-1 bandwidth shrinks 4-16x
    (int64 words / 16-dim prefixes vs full float arrays) while the exact
    re-rank touches only fetch_mult*k candidate rows.

    Recall gating is OPT-IN at this layer (ADVICE r10): pass the operating
    point from a cached catalog verdict
    (`VectorStoreCatalog.assert_tier_usable(..., metric=...)`) so a tier
    whose recall collapsed on this store is refused BEFORE any query runs —
    the serving path (`ChatPipeline._tiered_store`) always does this via
    `tier_gate` and refuses to construct without one. Direct construction
    with no operating point (any metric) uses the TIER_LADDER default
    point UNMEASURED on this store — an expert path for tests and
    offline probes, not serving.

    Ids must be numeric (cast to bigint), the same contract as the guard's
    probe and the ann operators."""

    def __init__(
        self,
        store: DataFrame,
        tier: str,
        operating_point: dict | None = None,
        id_col: str = "id",
        vec_col: str = "embedding",
        metric: str = "COSINE",
    ):
        if tier not in SERVABLE_TIERS:
            raise ValueError(
                f"tier {tier!r} is not servable from a TieredStore; one of "
                f"{list(SERVABLE_TIERS)} (ivf/pq serve via ann.IVFIndex/ann.PQIndex, "
                "lsh via ann.lsh_knn_join)"
            )
        if metric not in TIER_METRICS[tier]:
            # per-metric tier ladder (VERDICT r8 task #4 / r9 task #5):
            # every SERVABLE tier now carries all three metrics — int8 by
            # quantization algebra, the re-rank tiers by an exact-metric
            # stage 2 gated on the per-(store, tier, metric) measured
            # recall verdict — so this refusal only fires for a metric
            # outside the engine's METRICS set
            raise ValueError(
                f"tier {tier!r} serves {TIER_METRICS[tier]} only (got "
                f"{metric!r}); use exact retrieval.similarity_topk for "
                "other metrics"
            )
        self.metric = metric
        self.tier = tier
        self.op = dict(TIER_LADDER[tier][0] if operating_point is None else operating_point)
        self.id_col, self.vec_col = id_col, vec_col
        self.store = store
        self._norm = store.select(
            F.col(id_col).cast("bigint").alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("embedding"),
        )
        first = self._norm.select(F.size("embedding").alias("d")).first()
        if first is None:
            raise ValueError("cannot build a TieredStore over an empty store")
        self.dim = int(first["d"])
        self._pca = None
        if tier == "int8":
            from oaim_sandbox_spark.operators import ann as A

            # materialize the QUANTIZED columns plus one norm per row (the
            # tier's 4x storage win); each query dequantizes element by
            # element inside its distance fold (ann.int8_distance), so no
            # dequantized double array is ever built or stored — persisting
            # one would store MORE bytes than the original floats
            rep = A.prepare_int8(self._norm)
        elif tier == "binary_hamming_rerank":
            rep = pack_signs(self._norm, self.dim)
        elif tier == "matryoshka16_rerank":
            rep = self._norm.select(
                "vec_id", F.expr("slice(embedding, 1, 16)").alias("embp")
            )
        else:  # pca16_rerank — bounded one-pass Gram fit, then projection
            from oaim_sandbox_spark.operators.dim_reduce import fit_pca, project_pca

            self._pca = fit_pca(self._norm, n_components=16)
            rep = project_pca(self._norm, self._pca, out_col="embp").select("vec_id", "embp")
        # Prepared representation: computed once, re-readable per query.
        # (materialize_relation spills corpus-sized reps to durable parquet.)
        self._rep = materialize_relation(rep, f"tier_{tier}")

    def close(self) -> None:
        """Release the prepared representation (its checkpoint blocks or
        its staged parquet). Only call once no query reads this store."""
        release_relation(self._rep)

    def topk_batch(self, queries: list[tuple[int, list[float]]], k: int = 4) -> DataFrame:
        """Exact-metric top-k for MANY query vectors through ONE stage-1
        scan over the compressed representation — the 100 TB serving shape
        (per-query scans would re-read the representation |queries| times;
        every canonical candidate generator is already batched, so the
        batch form is the natural one and `topk` is its 1-query wrapper).
        `queries` is [(query_id, vector)] with unique int ids; returns
        (<store columns>, query_id, distance, rank) — store columns FIRST
        (the store is the join's left side) — ascending per query. The
        three output names are reserved: a store that already carries a
        query_id/distance/rank column would make the join ambiguous (and
        drop() would silently eat the caller's column), so the call refuses
        up front with a rename hint.

        The query relation is built from an Arrow table, so it plans as a
        LocalTableScan: no Python RDD, and no Python worker per action. The
        store columns come from ``self.store``; a serving pipeline passes
        its prepared (materialized) store, so the final join reads that
        frame instead of rescanning the store's files. Cosine norms: int8
        reads each store row's norm from its prepared relation and folds one
        norm per query row before its pair join (``ann.int8_knn_join``);
        the re-rank tiers score their bounded candidates with the full
        ``cosine_distance`` expression."""
        import pyarrow as pa

        ids = [int(qid) for qid, _ in queries]
        if len(set(ids)) != len(ids):
            raise ValueError("query ids must be unique")
        table = pa.table({
            "query_id": pa.array(ids, pa.int64()),
            "query_vec": pa.array([[float(x) for x in qv] for _, qv in queries],
                                  pa.list_(pa.float64())),
        })
        qdf = self.store.sparkSession.createDataFrame(
            table, "query_id BIGINT, query_vec ARRAY<DOUBLE>")
        return self.topk_batch_df(qdf, k=k)

    def topk_batch_df(self, qdf: DataFrame, k: int = 4) -> DataFrame:
        """``topk_batch`` with a DataFrame query side — the FULLY
        distributed serving shape (VERDICT r11 #5): the query relation
        never materializes on the driver, so a 10M-question evaluation
        keeps one stage-1 scan AND no driver state. ``qdf`` must be
        (query_id BIGINT, query_vec ARRAY<DOUBLE>) with UNIQUE ids — the
        uniqueness contract is the CALLER's here (a driver list can be
        checked for free; a distributed relation cannot without an extra
        aggregate, and the evaluator derives ids from a 60-bit hash whose
        collision freedom it asserts in its own dim-sized agg). Every
        stage-1 candidate generator transforms the query side with the
        SAME expressions it applies to the store (sign_pack /
        project_pca / prefix slice), so the df path and the probed list
        path cannot drift."""
        from oaim_sandbox_spark.operators import ann as A

        if self.tier == "int8":
            res = A.int8_knn_join(self._rep, qdf, k=k, metric=self.metric)
        else:
            fetch_k = int(self.op.get("fetch_mult", 5)) * k
            if self.tier == "binary_hamming_rerank":
                cand = binary_hamming_candidates(
                    self._norm, qdf, self.dim, fetch_k, packed=self._rep
                )
            elif self.tier == "matryoshka16_rerank":
                cand = prefix_candidates(
                    self._norm, qdf, 16, fetch_k, storep=self._rep
                )
            else:  # pca16_rerank
                cand = pca_candidates(
                    self._norm, qdf, 16, fetch_k, pca=self._pca, storep=self._rep
                )
            res = exact_rerank(self._norm, qdf, cand, k, self.metric)
        hits = res.select("query_id", "neighbor_id", "distance", "rank")
        return self._with_store_columns(hits).orderBy(
            F.col("query_id").asc(), F.col("distance").asc(), F.col(self.id_col).asc()
        )

    def _with_store_columns(self, hits: DataFrame) -> DataFrame:
        """``hits`` (keyed by neighbor_id) joined back to the store rows.

        neighbor_id is joined then dropped here, so it is reserved too —
        without this check a store carrying its own neighbor_id column
        fails later with AMBIGUOUS_REFERENCE instead of this rename hint
        (ADVICE r10). Every entry point (topk, topk_batch and the public
        topk_batch_df that evaluate_testset_batched calls) builds its
        output here, so all of them refuse before any job runs (ADVICE
        r12)."""
        clash = {"query_id", "distance", "rank", "neighbor_id"} & set(self.store.columns)
        if clash:
            raise ValueError(
                f"store columns {sorted(clash)} collide with topk output "
                "columns (query_id/neighbor_id/distance/rank are reserved); "
                "rename them before building the TieredStore"
            )
        return self.store.join(
            hits, F.col(self.id_col).cast("bigint") == F.col("neighbor_id")
        ).drop("neighbor_id")

    def topk(self, query_vec: list[float], k: int = 4) -> DataFrame:
        """Exact-metric top-k through the tier funnel for ONE query vector.
        Returns the original store columns plus `distance` (round 6),
        ordered ascending — the same output contract as
        retrieval.similarity_topk, so serving callers can swap it in.

        int8 scores like similarity_topk: the query enters the plan as a
        literal with its norm folded once on the driver
        (``portable.norm2_rows``), each prepared row pays one fused fold
        (``ann.int8_distance``), and orderBy(distance, vec_id).limit(k)
        runs as TakeOrderedAndProject — no query relation, pair join or
        rank window, and three Spark jobs per collect. The distances and
        the ranking equal ``topk_batch``'s."""
        if self.tier != "int8":
            return (
                self.topk_batch([(0, query_vec)], k=k)
                .drop("query_id", "rank")
                .orderBy(F.col("distance").asc(), F.col(self.id_col).asc())
            )
        from oaim_sandbox_spark.operators import ann as A
        from oaim_sandbox_spark.operators.retrieval import _double_literal, _vec_literal

        qnorm = _double_literal(float(P.norm2_rows([query_vec])[0]))
        dist = A.int8_distance(self.metric, _vec_literal(query_vec), qnorm)
        hits = (
            self._rep.select(
                F.col("vec_id").alias("neighbor_id"),
                F.expr(f"round({dist}, 6)").alias("distance"),
            )
            .orderBy(F.col("distance").asc(), F.col("neighbor_id").asc())
            .limit(k)
        )
        # the join emits about k rows: gather them into one partition so
        # the final sort needs no range-partitioning sample job (which would
        # scan the store and run the join a second time)
        return self._with_store_columns(hits).repartition(1).orderBy(
            F.col("distance").asc(), F.col(self.id_col).asc()
        )


class Int8HostCopy:
    """An int8 ``TieredStore``'s prepared relation (vec_id, qvec, qscale,
    qnorm) collected to the driver once and laid out in the row order of a
    serving snapshot (``retrieval.StoreSnapshot``), so ``distances`` gives
    the raw distances ``TieredStore.topk`` ranks without a Spark job: each
    code is dequantized inside ``portable.fold_distances`` with
    ``ann.int8_distance``'s operations, and cosine divides by the prepared
    ``qnorm``."""

    def __init__(self, codes, valid, scale, norms, metric: str):
        self.codes, self.valid, self.scale, self.norms = codes, valid, scale, norms
        self.metric = metric

    @classmethod
    def collect(cls, ts: TieredStore, ids, dim: int) -> "Int8HostCopy | None":
        """None unless ``ts`` is an int8 tier and its vec_ids are exactly
        the snapshot's integral ``ids`` (string ids reach the tier through
        Spark's cast, which the Spark path keeps)."""
        import numpy as np

        if ts.tier != "int8" or ids.dtype.kind not in "iu":
            return None
        table = ts._rep.select("vec_id", "qvec", "qscale", "qnorm").toArrow()
        vid = table.column("vec_id")
        if vid.null_count:
            return None
        vid = vid.to_numpy(zero_copy_only=False)
        order = np.argsort(vid, kind="stable")
        if not np.array_equal(vid[order], np.sort(ids)):
            return None
        perm = order[np.searchsorted(vid[order], ids)]  # snapshot row -> rep row
        codes, valid = arrow_matrix(table.column("qvec").combine_chunks().take(perm), dim, np.int8)

        def floats(name):
            return table.column(name).to_numpy(zero_copy_only=False).astype(np.float64)[perm]

        return cls(codes, valid, floats("qscale"), floats("qnorm"), ts.metric)

    def distances(self, query_vec: list[float]):
        """(raw distances, NULL mask) in the snapshot's row order."""
        import numpy as np

        q = np.asarray([[float(x) for x in query_vec]], dtype=np.float64)
        dist, null = P.fold_distances(self.codes, q, self.metric, self.valid,
                                      row_norms=self.norms, qnorm=P.norm2_rows(q),
                                      scale=self.scale)
        return dist[:, 0], null
