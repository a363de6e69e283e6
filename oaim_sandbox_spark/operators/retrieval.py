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

import decimal
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
    parallel — it scales with executors, but every call is at least one
    Spark job. Interactive serving of a store that fits the driver (at or
    under ``SNAPSHOT_MAX_BYTES``) answers from ``StoreSnapshot`` instead,
    the same rows with no job; this plan stays its parity reference and
    serves larger stores. For sublinear latency use ann.IVFIndex (k-means
    partition pruning) once the store exceeds ~10^8 rows; exact remains
    the correctness oracle.
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
    similarity_topk; the greedy phase (``mmr_select``) is
    O(k * fetch_k * dim) numpy on the driver — bounded by fetch_k <= 10k
    regardless of store size.
    """
    cands = similarity_topk(store, query_vec, fetch_k, metric, id_col, vec_col).collect()
    return mmr_select(cands, query_vec, k, lambda_mult, vec_col)


def mmr_select(cands: list, query_vec: list[float], k: int, lambda_mult: float,
               vec_col: str = "embedding") -> list:
    """MMR's greedy phase over fetched candidate Rows (nearest first): the
    chosen Rows in selection order. ``mmr_rerank`` and the serving
    snapshot (``StoreSnapshot.mmr``) both select through it."""
    import numpy as np

    if not cands:
        return []
    q = np.asarray(query_vec, dtype=np.float64)
    # a NULL vector, one of another length than the query or one holding a
    # NULL element (the rows whose non-cosine distance is NULL, so they sort
    # first into every fetch) counts as a zero vector: 0 similarity
    mat = np.zeros((len(cands), len(q)), dtype=np.float64)
    for i, r in enumerate(cands):
        v = r[vec_col]
        if v is not None and len(v) == len(q) and all(x is not None for x in v):
            mat[i] = v
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


# -- the serving snapshot: exact top-k on the driver ------------------------

# A prepared serving store whose driver copy (the Arrow columns plus a
# float64 matrix of its vectors) is estimated at or under this many bytes
# is collected once and searched on the driver; a larger store keeps the
# Spark plans above. A 10k x 64 store takes about 10 MB.
SNAPSHOT_MAX_BYTES = 256 << 20

# column types whose Arrow values convert to the Python values Spark's
# collect() returns; a store carrying any other type is not snapshotted
_SNAPSHOT_ATOMIC = ("string", "boolean", "tinyint", "smallint", "int", "bigint",
                    "float", "double")

_ROUND6 = decimal.Decimal("1e-6")
# exact for the sum of two neighbouring doubles and for a 6-decimal
# quantize of any finite double
_EXACT = decimal.Context(prec=1100, rounding=decimal.ROUND_HALF_UP)
_HALF = decimal.Decimal("0.5")


def spark_round6(x: float) -> float:
    """Spark's ``round(x, 6)`` of a double: the JVM's ``Double.toString``
    of x read as a BigDecimal, rounded HALF_UP to 6 places and read back
    as a double, so never -0.0; NaN and infinities pass through.

    Every decimal string that reads back as x lies inside x's rounding
    interval (half-way to each neighbouring double). When both ends of the
    interval round to the same 6-place value, so does the JVM's string,
    and that value is the result. Otherwise (x sits on an exact half of
    the 6th place, or is too coarse for it) the JVM's own string decides:
    JDK 17's ``Double.toString`` is not always the shortest repr, so
    Python's repr cannot stand in for it. That is one py4j call, no job."""
    if not math.isfinite(x):
        return x
    below, above = math.nextafter(x, -math.inf), math.nextafter(x, math.inf)
    if math.isfinite(below) and math.isfinite(above):
        d = decimal.Decimal(x)
        lo = _EXACT.multiply(_EXACT.add(d, decimal.Decimal(below)), _HALF)
        hi = _EXACT.multiply(_EXACT.add(d, decimal.Decimal(above)), _HALF)
        r = _EXACT.quantize(lo, _ROUND6)
        if r == _EXACT.quantize(hi, _ROUND6):
            return float(r) + 0.0
    from pyspark import SparkContext

    s = SparkContext._jvm.java.lang.Double.toString(x)
    return float(_EXACT.quantize(decimal.Decimal(s), _ROUND6)) + 0.0


def _spark_ge(a: float, b: float) -> bool:
    """Spark's ``a >= b`` on doubles: NaN equals NaN and exceeds every
    other value."""
    if a != a:
        return True
    return b == b and a >= b


def _score(d, metric: str):
    """``score_expr`` on a distance (a float or an array), in the same
    IEEE operations."""
    if metric == "COSINE":
        return 1.0 - d / 2.0
    if metric == "EUCLIDEAN_DISTANCE":
        return 1.0 / (1.0 + d)
    return -1.0 * d


def _margin(x: float) -> float:
    """Wider than what rounding to 6 places can move x (half a step plus
    a few ulps of x), so a raw-value cut at x loses no row the rounded
    ranking keeps."""
    return 2e-6 + abs(x) * 2.0 ** -48 if math.isfinite(x) else 0.0


def host_topk(dist, null, ids, k: int, metric: str,
              score_threshold: float | None = None) -> list[tuple]:
    """The rows ``similarity_topk`` returns, ranked from raw host
    distances: (row index, distance, score) per row in Spark's order.

    ``dist`` holds each row's raw distance (``null`` marks NULL ones), and
    ``ids`` the row ids, which must be unique. Rounding is kept off the
    bulk: every row whose raw distance is within ``_margin`` of the k-th
    raw distance is a candidate (for a threshold, also every row whose raw
    score is within ``_margin`` of it, and the k-th is taken over the rows
    that surely pass). The candidates alone are rounded like Spark
    (``spark_round6``), filtered by ``score >= threshold`` with Spark's NaN
    semantics, and sorted by (distance, id) with NULLs first and NaN last."""
    import numpy as np

    if k <= 0:
        return []
    nan = np.isnan(dist) & ~null
    num = ~null & ~nan
    if score_threshold is None:
        sure = eligible = np.ones(len(dist), dtype=bool)
    else:
        t = float(score_threshold)
        with np.errstate(all="ignore"):
            raw = _score(dist, metric)
            m = _margin(t)
            eligible = nan | (num & (raw >= t - m))
            sure = nan | (num & (raw >= t + m))
    n_null, nums = int((sure & null).sum()), dist[sure & num]
    if n_null >= k:
        cand = eligible & null
    elif len(nums) >= k - n_null:
        kth = float(np.partition(nums, k - n_null - 1)[k - n_null - 1])
        cand = eligible & (null | (num & (dist <= kth + _margin(kth))))
    else:
        cand = eligible
    out = []
    for i in np.flatnonzero(cand):
        d = None if null[i] else spark_round6(float(dist[i]))
        s = None
        if score_threshold is not None:
            s = spark_round6(_score(d, metric))
            if not _spark_ge(s, score_threshold):
                continue
        cls = 0 if d is None else (2 if d != d else 1)
        out.append(((cls, d if cls == 1 else 0.0, ids[i]), int(i), d, s))
    out.sort(key=lambda r: r[0])
    return [r[1:] for r in out[:k]]


def arrow_matrix(col, dim: int, dtype):
    """An Arrow list array as a column-major [n, dim] matrix, and the mask
    of its rows that hold a vector of length ``dim`` with no NULL element
    (the others are left 0; Arrow keeps a NULL element apart from NaN)."""
    import numpy as np
    import pyarrow.compute as pc

    n = len(col)
    lengths = pc.list_value_length(col).fill_null(-1).to_numpy(zero_copy_only=False)
    flat = pc.list_flatten(col)
    parents = pc.list_parent_indices(col).to_numpy(zero_copy_only=False)
    valid = lengths == dim
    valid[parents[flat.is_null().to_numpy(zero_copy_only=False)]] = False
    sizes = np.maximum(lengths, 0)
    pos = np.arange(len(flat)) - (np.cumsum(sizes) - sizes)[parents]
    keep = valid[parents]
    mat = np.zeros((n, dim), dtype=dtype, order="F")
    mat[parents[keep], pos[keep]] = pc.fill_null(flat, 0).to_numpy(zero_copy_only=False)[keep]
    return mat, valid


class StoreSnapshot:
    """A prepared serving store (``with_row_norms``) held on the driver,
    answering ``similarity_topk`` and ``mmr_rerank`` with the rows and
    distances Spark returns, without a Spark job.

    It holds a float64 [n, d] matrix of the vectors (column-major, so each
    per-dimension step of ``portable.fold_distances`` is a contiguous
    pass), the prepared row norms, a mask of the rows with a usable vector,
    and the store's columns as Arrow, from which each answer's Rows are
    rebuilt with Spark's columns and order. d is the most common vector
    length; a query of another length is not covered."""

    def __init__(self, rows, ids, vecs, valid, norms):
        self.rows, self.ids, self.vecs, self.valid, self.norms = rows, ids, vecs, valid, norms
        self.dim = vecs.shape[1]

    @classmethod
    def collect(cls, prepared: DataFrame, id_col: str = "id",
                vec_col: str = "embedding") -> "StoreSnapshot | None":
        """Collect ``prepared`` once, or None when the store is not covered:
        its driver copy is over ``SNAPSHOT_MAX_BYTES``, it is empty, its ids
        are NULL or repeat (a repeated id keeps Spark's join multiplicity on
        the Spark path), it has a ``distance`` or ``score`` column, or a
        column type whose Arrow value differs from Spark's collected one.

        One aggregate job sizes the copy first, so an over-cap store never
        lands on the driver; then one ``toArrow`` collect."""
        import numpy as np
        import pyarrow.compute as pc

        norm = row_norm_col(vec_col)
        types = {f.name: f.dataType.simpleString() for f in prepared.schema.fields}
        plain = all(t in _SNAPSHOT_ATOMIC or (t.startswith("array<") and t[6:-1] in _SNAPSHOT_ATOMIC)
                    for t in types.values())
        if (not plain or norm not in types or {"distance", "score"} & set(types)
                or types.get(vec_col) not in ("array<float>", "array<double>")
                or types.get(id_col) not in ("string", "tinyint", "smallint", "int", "bigint")):
            return None
        size = []
        for name, t in types.items():
            c = f"`{name}`"
            if name == vec_col:  # its Arrow list plus its float64 matrix row
                size.append(f"16 * greatest(coalesce(size({c}), 0), 0)")
            elif t.startswith("array<"):
                size.append(f"8 * greatest(coalesce(size({c}), 0), 0)")
            elif t == "string":
                size.append(f"8 + coalesce(octet_length({c}), 0)")
            else:
                size.append("8")
        est = prepared.agg(F.expr(f"sum({' + '.join(size)})")).first()[0]
        if est is None or est > SNAPSHOT_MAX_BYTES:
            return None
        table = prepared.toArrow()
        ids_col = table.column(id_col)
        if ids_col.null_count:
            return None
        ids = ids_col.to_numpy(zero_copy_only=False)
        if len(np.unique(ids)) != len(ids):
            return None
        vec = table.column(vec_col).combine_chunks()
        lengths = pc.list_value_length(vec).drop_null().to_numpy(zero_copy_only=False)
        if not len(lengths):
            return None
        vecs, valid = arrow_matrix(vec, int(np.bincount(lengths).argmax()), np.float64)
        norms = table.column(norm).to_numpy(zero_copy_only=False).astype(np.float64)
        return cls(table.drop_columns([norm]), ids, vecs, valid, norms)

    def covers(self, query_vec: list[float], *ks: int) -> bool:
        """A query of the snapshot's dimension and no negative k (Spark's
        limit raises on one, and the Spark path keeps that error)."""
        return len(query_vec) == self.dim and min(ks, default=0) >= 0

    def topk(self, query_vec: list[float], k: int, metric: str = "COSINE",
             score_threshold: float | None = None) -> list:
        """``similarity_topk(...).collect()`` over the prepared store."""
        import numpy as np

        q = np.asarray([[float(x) for x in query_vec]], dtype=np.float64)
        dist, null = P.fold_distances(self.vecs, q, metric, self.valid,
                                      row_norms=self.norms, qnorm=P.norm2_rows(q))
        return self.ranked(dist[:, 0], null, k, metric, score_threshold)

    def mmr(self, query_vec: list[float], k: int, fetch_k: int, lambda_mult: float,
            metric: str = "COSINE") -> list:
        """``mmr_rerank`` over the prepared store."""
        return mmr_select(self.topk(query_vec, fetch_k, metric), query_vec, k, lambda_mult)

    def ranked(self, dist, null, k: int, metric: str = "COSINE",
               score_threshold: float | None = None) -> list:
        """The Rows ``host_topk`` picks from raw distances aligned with this
        snapshot's rows: the store's columns, then distance (and score)."""
        from pyspark.sql import Row

        picks = host_topk(dist, null, self.ids, k, metric, score_threshold)
        names = self.rows.column_names + ["distance"]
        if score_threshold is not None:
            names.append("score")
        make = Row(*names)
        recs = self.rows.take([i for i, _d, _s in picks]).to_pylist()
        return [
            make(*rec.values(), d, *(() if score_threshold is None else (s,)))
            for rec, (_i, d, s) in zip(recs, picks)
        ]
