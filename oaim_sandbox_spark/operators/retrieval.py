"""Retrieval operators (SURVEY.md §2.6 T1-T3) — vector top-k, score threshold,
MMR — with Oracle VECTOR_DISTANCE semantics parity.

Distance metrics (reference schema.py:18, used via OracleVS at
chatbot.py:183-210):
  COSINE             -> 1 - cos(a, b)
  EUCLIDEAN_DISTANCE -> ||a - b||
  DOT_PRODUCT        -> -<a, b>   (Oracle: larger dot product = SMALLER
                                   distance; parity-tested)

Relevance score for the threshold search (T2) follows LangChain's
normalization: score = 1 - distance/2 for cosine (maps [0,2] -> [1,0]),
1/(1+d) for euclidean, and the raw negated-distance sigmoid-free passthrough
for dot product.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from oaim_sandbox_spark.functions import portable as P

METRICS = ("COSINE", "EUCLIDEAN_DISTANCE", "DOT_PRODUCT")


def _vec_literal(vec: list[float], dialect: str = "spark") -> str:
    if dialect == "spark":
        return "array(" + ", ".join(_double_literal(float(x)) for x in vec) + ")"
    return "[" + ", ".join(repr(float(x)) for x in vec) + "]::DOUBLE[]"


def _double_literal(x: float) -> str:
    # repr round-trips a finite double; inf/nan go through the string cast
    return f"cast({x!r} as double)" if math.isfinite(x) else f"cast('{x}' as double)"


def distance_expr(vec_col: str, query: list[float] | str, metric: str, dialect: str = "spark") -> str:
    """SQL fragment for the distance between a vector column and a query
    vector (list literal or SQL fragment)."""
    a = P.to_double_array(vec_col, dialect)
    q = query if isinstance(query, str) else _vec_literal(query, dialect)
    if metric == "COSINE":
        return P.cosine_distance(a, q, dialect)
    if metric == "EUCLIDEAN_DISTANCE":
        return P.euclidean_distance(a, q, dialect)
    if metric == "DOT_PRODUCT":
        return P.dot_distance(a, q, dialect)
    raise ValueError(f"unknown metric {metric}; expected one of {METRICS}")


def score_expr(dist: str, metric: str) -> str:
    """Normalized relevance score in [0,1]-ish from a distance fragment."""
    if metric == "COSINE":
        return f"(1.0 - {dist} / 2.0)"
    if metric == "EUCLIDEAN_DISTANCE":
        return f"(1.0 / (1.0 + {dist}))"
    return f"(-1.0 * {dist})"


def row_norm_col(vec_col: str = "embedding") -> str:
    """Name of the per-row L2 norm column ``with_row_norms`` adds."""
    return f"__{vec_col}_norm"


def with_row_norms(store: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """The store plus its per-row L2 norm column (``row_norm_col``): the
    query-independent half of every cosine distance. A serving store is
    prepared once with it (ChatPipeline materializes this frame), so each
    query's scan folds only the dot product."""
    a = P.to_double_array(vec_col, "spark")
    return store.withColumn(row_norm_col(vec_col), F.expr(P.norm2(a, "spark")))


def similarity_topk(
    store: DataFrame,
    query_vec: list[float],
    k: int = 4,
    metric: str = "COSINE",
    id_col: str = "id",
    vec_col: str = "embedding",
    score_threshold: float | None = None,
) -> DataFrame:
    """T1/T2: exact top-k by vector distance, optional score threshold.

    Plan shape: the query vector is a literal (broadcast by definition); the
    distance is a JVM expression inside codegen; orderBy(dist).limit(k)
    compiles to TakeOrderedAndProject — each partition computes a local top-k
    and only k rows per partition reach the driver. No shuffle of the store.

    Cosine scores with ``cosine_distance_prenorm``: one dot-product fold per
    row. The row norm is the store's ``row_norm_col`` column when the store
    was prepared with ``with_row_norms`` (the serving pipeline's is), and is
    added inline otherwise; the query norm is folded once, in Python, by
    ``portable.norm2_rows`` and enters the plan as a literal. Both are the
    doubles ``norm2`` would produce, so distances are bit-identical to
    ``cosine_distance``. The norm column never reaches the output.

    With a threshold, the plan keeps the passing rows first —
    ORDER BY coalesce(score >= t, false) DESC, distance, id — takes k rows,
    and applies the same ``score >= t`` filter to those k. The result equals
    filter-then-limit, but no Filter sits below the limit, where Catalyst
    would inline (and so re-run) the distance fold next to the Project's.

    100 TB note: exact scan-and-topk is bandwidth-bound and embarrassingly
    parallel — it scales with executors. For sublinear latency use
    ann.IVFIndex (k-means partition pruning) once the store exceeds ~10^8
    rows; exact remains the correctness oracle.
    """
    if metric == "COSINE":
        norm = row_norm_col(vec_col)
        if norm not in store.columns:
            store = with_row_norms(store, vec_col)
        qnorm = float(P.norm2_rows([query_vec])[0])
        dist = P.cosine_distance_prenorm(
            P.to_double_array(vec_col, "spark"), _vec_literal(query_vec),
            norm, _double_literal(qnorm), "spark",
        )
    else:
        dist = distance_expr(vec_col, query_vec, metric)
    out = store.withColumn("distance", F.expr(f"round({dist}, 6)"))
    out = out.drop(row_norm_col(vec_col))
    order = [F.col("distance").asc(), F.col(id_col).asc()]
    if score_threshold is None:
        return out.orderBy(*order).limit(k)
    passes = F.col("score") >= score_threshold
    out = out.withColumn("score", F.expr(f"round({score_expr('distance', metric)}, 6)"))
    return (
        out.orderBy(F.coalesce(passes, F.lit(False)).desc(), *order)
        .limit(k)
        .filter(passes)
    )


def mmr_rerank(
    store: DataFrame,
    query_vec: list[float],
    k: int = 4,
    fetch_k: int = 20,
    lambda_mult: float = 0.5,
    metric: str = "COSINE",
    id_col: str = "id",
    vec_col: str = "embedding",
) -> list:
    """T3 Maximal Marginal Relevance — the reference's two-phase shape
    (chatbot.py:199-206): distributed exact top-fetch_k, then greedy
    driver-side re-rank over <= fetch_k (max 10,000) candidates maximizing
        lambda * sim(q, d) - (1 - lambda) * max_{s in chosen} sim(d, s).

    Returns the chosen Rows in selection order (selection order IS the rank).
    The candidate fetch is the same TakeOrderedAndProject plan as
    similarity_topk; the greedy phase is O(k * fetch_k * dim) numpy on the
    driver — bounded by fetch_k <= 10k regardless of store size.
    """
    import numpy as np

    cands = similarity_topk(store, query_vec, fetch_k, metric, id_col, vec_col).collect()
    if not cands:
        return []
    q = np.asarray(query_vec, dtype=np.float64)
    mat = np.asarray([r[vec_col] for r in cands], dtype=np.float64)
    qn_div = np.linalg.norm(q)
    qn = q / (qn_div if qn_div else 1.0)
    row_norms = np.linalg.norm(mat, axis=1, keepdims=True)
    mn = mat / np.where(row_norms == 0.0, 1.0, row_norms)
    # zero vectors (query or candidate) produce 0-similarity rows instead of
    # 0/0 = NaN: NaN poisons every comparison (val > best_val is always
    # False), leaving best=None and crashing on cands[None]
    sim_q = np.nan_to_num(mn @ qn, nan=0.0)
    sim_dd = np.nan_to_num(mn @ mn.T, nan=0.0)
    chosen: list[int] = [int(np.argmax(sim_q))]
    while len(chosen) < min(k, len(cands)):
        remaining = [i for i in range(len(cands)) if i not in chosen]
        best, best_val = None, -float("inf")
        for i in remaining:
            diversity = max(sim_dd[i][j] for j in chosen)
            val = lambda_mult * sim_q[i] - (1.0 - lambda_mult) * diversity
            if val > best_val:
                best, best_val = i, val
        if best is None:  # defensive: nothing comparable left
            break
        chosen.append(best)
    return [cands[i] for i in chosen]


def topk_sql(
    table: str,
    query_frag: str,
    k: int,
    metric: str,
    dialect: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_threshold: float | None = None,
    exclude_id: int | None = None,
) -> str:
    """Dual-dialect SQL for T1/T2 — used by the oracle-checked queries()."""
    dist = distance_expr(vec_col, query_frag, metric, dialect)
    where = f"WHERE {id_col} != {exclude_id}" if exclude_id is not None else ""
    inner = f"SELECT {id_col}, round({dist}, 6) AS distance FROM {table} {where}"
    if score_threshold is not None:
        score = score_expr("distance", metric)
        return (
            f"SELECT {id_col}, distance, round({score}, 6) AS score FROM ({inner}) "
            f"WHERE round({score}, 6) >= {score_threshold} "
            f"ORDER BY distance ASC, {id_col} ASC LIMIT {k}"
        )
    return f"SELECT * FROM ({inner}) ORDER BY distance ASC, {id_col} ASC LIMIT {k}"


def normalize_vectors(df: DataFrame, vec_col: str = "embedding", out_col: str | None = None) -> DataFrame:
    """L2-normalize a vector column (JVM expression, narrow op).

    Store normalization is the standard cosine-at-scale trick: persist unit
    vectors once, and every cosine query becomes a plain dot product (and a
    negated DOT_PRODUCT top-k) — one multiply-add fold per element instead of
    dot + two norms, ~3x less arithmetic in the scan's hot loop, and the same
    ordering. Zero vectors pass through unchanged (norm guarded to 1).
    """
    out_col = out_col or vec_col
    v = f"cast({vec_col} as array<double>)"
    norm = P.norm2(v, "spark")
    # the norm must be computed ONCE per row: Spark does not hoist or CSE
    # subexpressions inside higher-order-function lambdas, so embedding the
    # O(dim) norm aggregate in the per-element lambda is O(dim^2) per row —
    # materialize it as a column and divide by the column reference
    tmp = f"__{out_col}_norm"
    return (
        df.withColumn(tmp, F.expr(f"if({norm} = 0.0, 1.0, {norm})"))
        .withColumn(out_col, F.expr(f"transform({v}, x -> x / {tmp})"))
        .drop(tmp)
    )


def federated_topk(
    catalog,
    query_vec: list[float],
    k: int = 4,
    metric: str = "COSINE",
    stores: list[str] | None = None,
    id_col: str = "id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search ACROSS vector stores (the multi-store layout the reference's
    catalog implies — one table per (alias, model, chunk) combo) and merge
    into one global top-k with provenance.

    Each store contributes its local exact top-k (TakeOrderedAndProject per
    store — k rows per store leave each scan), the union is store-count × k
    rows, and the global re-rank is a driver-cheap sort of that union.
    Requires a shared embedding space (same model/dim); the caller filters
    `stores` (or the catalog facets do) when models differ — distances from
    different embedding models are not comparable.

    catalog: catalog.VectorStoreCatalog; stores: names to search (default:
    every store in the catalog)."""
    names = stores if stores is not None else [s.vector_store for s in catalog.list_stores()]
    if not names:
        raise ValueError("no stores to search")
    qdim = len(query_vec)
    parts = []
    for name in names:
        df = catalog.read_store(name)
        # dim guard: a mismatched store would produce NULL distances
        # (zip_with pads with NULL), which sort FIRST ascending and silently
        # fill the global top-k with garbage — fail loudly instead
        row = df.select(F.size(vec_col).alias("d")).first()
        if row is not None and row["d"] != qdim:
            raise ValueError(
                f"store {name} holds {row['d']}-dim embeddings but the query "
                f"is {qdim}-dim — cross-model distances are not comparable; "
                "scope `stores` to one embedding space"
            )
        # belt to the guard's braces: a store whose FIRST row is qdim but
        # which contains stray other-dim rows would still produce NULL
        # distances that sort first ascending — exclude mismatched rows at
        # the scan (JVM filter, no extra job); the first-row guard above
        # catches the whole-store mismatch loudly
        local = similarity_topk(
            df.filter(F.expr(f"size({vec_col}) = {qdim}")),
            query_vec, k=k, metric=metric, id_col=id_col, vec_col=vec_col,
        )
        parts.append(
            local.select(F.lit(name).alias("store"), F.col(id_col).alias("id"), "distance")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy(F.col("distance").asc(), F.col("store").asc(), F.col("id").asc()).limit(k)
