"""Approximate-nearest-neighbor search over embedding columns.

Three tiers (SURVEY.md §4: reference uses Oracle HNSW/IVF indexes,
embedding.py:348-368; Spark has no vector index, so):

1. ``knn_join``      — exact brute-force k-NN for a *batch* of queries
                       (the Spark sweet spot: one scan answers all queries).
2. ``signed_projection_buckets`` / ``lsh_knn_join`` — random-hyperplane LSH
                       bucketing; deterministic & oracle-checkable (hyperplane
                       entries derive from the portable hash).
3. ``IVFIndex``      — k-means coarse quantizer (pyspark.ml KMeans), store
                       partitioned by centroid id; queries probe nprobe
                       nearest centroids -> partition pruning on read.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from oaim_sandbox_spark.functions import portable as P
from oaim_sandbox_spark.materialize import checkpoint
from oaim_sandbox_spark.operators.retrieval import distance_expr


def _qid_ddl(queries: DataFrame, query_id: str) -> str:
    """DDL type for the query-id column of a batch, derived from the batch's
    SCHEMA (not from isinstance on the first collected row — a batch mixing
    numpy ints and strs would otherwise fail inside createDataFrame with an
    opaque schema-merge error). Integer widths widen to BIGINT."""
    dt = queries.schema[query_id].dataType.simpleString()
    if dt == "string":
        return "STRING"
    if dt in ("tinyint", "smallint", "int", "bigint"):
        return "BIGINT"
    raise ValueError(
        f"query-id column {query_id!r} must be string or integral, got {dt}"
    )


def _pairs_df(spark: SparkSession, pairs: list, ddl: str) -> DataFrame:
    """createDataFrame for a driver-built (query_id, centroid, …, vec) probe
    batch via pandas so the rows cross to the JVM as Arrow batches instead of
    pickled Python tuples (guide §6; measured ~0.5s per 12k-pair batch on the
    bench stores). Values and schema are identical to
    ``spark.createDataFrame(pairs, ddl)``."""
    import pandas as pd

    names = [field.strip().split()[0] for field in ddl.split(",")]
    pdf = pd.DataFrame(pairs, columns=names)
    return spark.createDataFrame(pdf, schema=ddl)


_NP_SCORE_METRICS = ("COSINE", "EUCLIDEAN_DISTANCE", "DOT_PRODUCT")

# reconstitute NaN distances flagged by the scorer (pandas->Arrow cannot
# carry a NaN double — it becomes NULL): round(NaN, 6) is NaN, so ranking
# sees exactly what the JVM fold path would have produced
_NP_DIST_EXPR = (
    "round(CASE WHEN __ivf_dnan THEN double('NaN') ELSE __ivf_rawdist END, 6)"
)


def _np_path_ok(store: DataFrame, vec_col: str, metric: str, query_id: str) -> bool:
    """Gate for the NumPy scoring path: supported metric, no collision with
    the reserved output names, and every carried store column is an atomic
    type (the vector column is consumed, other array/map/struct columns
    would round-trip through pandas object cells — the broadcast-join JVM
    fallback handles those stores instead, with identical semantics)."""
    if metric not in _NP_SCORE_METRICS:
        return False
    reserved = {"query_id", "probe_rank", "__ivf_rawdist", "__ivf_nullelem",
                "__ivf_dnan", query_id}
    if reserved & set(store.columns):
        return False
    return not any(
        f.dataType.simpleString().startswith(("array", "map", "struct"))
        for f in store.schema.fields
        if f.name != vec_col
    )


def _pred_refs_cols(pred: str | None, cols) -> bool:
    """True when the free-text predicate ``pred`` references any of ``cols``
    as a whole word — the ADVICE r13 gate: the NumPy-scored relation drops
    the store vector and the query vector, so a ``pair_where`` naming them
    must take the JVM join path (which still carries both)."""
    if not pred:
        return False
    return any(re.search(rf"\b{re.escape(c)}\b", pred) for c in cols)


def _np_query_cells(qids, qmat, probes, qid_ddl: str, carry_rank: bool) -> dict:
    """Per-centroid query blocks for ``_np_cell_scores``: (qid array,
    query-matrix slice, query norms, probe ranks). Query norms come from
    ``portable.norm2_rows``, the host twin of ``portable.norm2``'s fold, so
    the COSINE denominator is bit-identical to the SQL path's
    ``__ivf_qnorm`` column."""
    import numpy as np

    if qid_ddl == "STRING":
        qid_arr = np.asarray([str(q) for q in qids], dtype=object)
    else:
        qid_arr = np.asarray([int(q) for q in qids], dtype=np.int64)
    qn = P.norm2_rows(qmat)
    by_cell: dict[int, tuple[list, list]] = {}
    for i, row in enumerate(probes):
        for j, c in enumerate(row):
            blk = by_cell.setdefault(int(c), ([], []))
            blk[0].append(i)
            blk[1].append(j)
    cells = {}
    for c, (idxs, js) in by_cell.items():
        idx = np.asarray(idxs, dtype=np.int64)
        cells[c] = (
            qid_arr[idx],
            qmat[idx],
            qn[idx],
            np.asarray(js, dtype=np.int32) if carry_rank else None,
        )
    return cells


def _np_cell_scores(
    store: DataFrame,
    vec_col: str,
    cells: dict,
    metric: str,
    qid_ddl: str,
    carry_probe_rank: bool = False,
):
    """Vectorized (NumPy) scoring of every (store row, probing query) pair,
    replacing the per-pair interpreted HOF distance folds of the former
    broadcast-join plan (guide §4.2: let Spark do distribution and I/O, hand
    whole batches to vectorized native code). The query batch — already
    driver-resident in search_batch by construction — travels in the task
    closure as per-centroid blocks, so NO probe frame is created and NO
    vector crosses the boundary per pair: the store's vectors cross once
    (the scan), and the emitted relation is narrow (store scalar columns +
    query_id [+ probe_rank] + raw double distance).

    BIT-IDENTICAL to the SQL expressions it replaces: dot/norm/sq-distance
    accumulate per-dimension LEFT-TO-RIGHT (one vectorized add per dimension
    in index order — the same IEEE-double sequence as the SQL
    ``aggregate(zip_with(...))`` fold; NumPy elementwise ops carry no FMA
    and no reassociation), COSINE divides the dot by the product of the
    per-row norms with the same nullif/coalesce zero guard, and the final
    round(.., 6) is left to the caller's Spark expression. Rows whose vector
    is NULL, of a different length than the query dimension, or containing a
    NULL ELEMENT reproduce the SQL padding semantics (COSINE -> coalesce
    path -> distance 1.0; EUCLIDEAN/DOT -> NULL). Element nulls are detected
    JVM-side (``exists(vec, x -> x IS NULL)``, attached only when the store
    schema says elements are nullable): Arrow surfaces element nulls as NaN,
    indistinguishable from a true NaN double once in pandas — but their SQL
    semantics differ (null element => dot NULL => 1.0/NULL; true NaN
    propagates to a NaN distance, which both paths produce identically).

    The query blocks ride an ``sc.broadcast`` (r14, VERDICT r13 #5) instead
    of the task closure, so a large query batch ships to each executor once
    rather than per task; the broadcast is torn down by Spark's
    ContextCleaner when the returned plan is garbage-collected.

    ``cells``: {centroid: (qid_list, qmat float64 [m, d], qnorm float64 [m],
    probe_ranks or None)}.
    """
    import numpy as np
    from pyspark.sql.types import (
        BooleanType, DoubleType, IntegerType, LongType, StringType, StructField,
        StructType,
    )

    scalar_fields = [
        f for f in store.schema.fields
        if f.name != vec_col and not f.dataType.simpleString().startswith("array")
    ]
    vec_type = store.schema[vec_col].dataType
    elem_nullable = bool(getattr(vec_type, "containsNull", True))
    if elem_nullable:
        store = store.withColumn(
            "__ivf_nullelem",
            F.expr(f"coalesce(exists({vec_col}, x -> x IS NULL), false)"),
        )
    bcells = store.sparkSession.sparkContext.broadcast(cells)
    out_fields = list(scalar_fields)
    out_fields.append(
        StructField("query_id", StringType() if qid_ddl == "STRING" else LongType(), False)
    )
    if carry_probe_rank:
        out_fields.append(StructField("probe_rank", IntegerType(), False))
    out_fields.append(StructField("__ivf_rawdist", DoubleType(), True))
    # NaN marker: pandas->Arrow turns a NaN double into NULL on the way back
    # (pandas uses NaN as its null sentinel), so a NaN distance — a true NaN
    # element in a store/query vector, exactly what the SQL folds propagate —
    # cannot cross the boundary as a value. The worker flags it instead and
    # the caller reconstitutes double('NaN') in SQL, keeping Spark's
    # NaN-sorts-last ranking semantics identical to the JVM fold path.
    out_fields.append(StructField("__ivf_dnan", BooleanType(), False))
    schema = StructType(out_fields)
    scalar_names = [f.name for f in scalar_fields]
    cosine = metric == "COSINE"
    euclid = metric == "EUCLIDEAN_DISTANCE"

    def score(iterator):
        import pandas as pd

        for pdf in iterator:
            for cent, grp in pdf.groupby("centroid", sort=False):
                block = bcells.value.get(int(cent))
                if block is None:
                    continue
                qids, qmat, qnorm, pranks = block
                m, d = qmat.shape
                vecs = grp[vec_col].values
                if elem_nullable:
                    nullelem = grp["__ivf_nullelem"].values
                else:
                    nullelem = np.zeros(len(vecs), dtype=bool)
                ok = np.fromiter(
                    (not ne and v is not None and hasattr(v, "__len__") and len(v) == d
                     for ne, v in zip(nullelem, vecs)),
                    dtype=bool, count=len(vecs),
                )
                out_parts = []
                if ok.any():
                    sub = grp[ok]
                    V = np.asarray([np.asarray(v, dtype=np.float64) for v in sub[vec_col].values])
                    n = V.shape[0]
                    acc = np.zeros((n, m), dtype=np.float64)
                    if euclid:
                        for j in range(d):  # left-to-right: the SQL fold order
                            dj = V[:, j : j + 1] - qmat[np.newaxis, :, j].reshape(1, m)
                            acc += dj * dj
                        dist = np.sqrt(acc)
                    else:
                        for j in range(d):
                            acc += V[:, j : j + 1] * qmat[np.newaxis, :, j].reshape(1, m)
                        if cosine:
                            vn = np.zeros(n, dtype=np.float64)
                            for j in range(d):
                                vn += V[:, j] * V[:, j]
                            vn = np.sqrt(vn)
                            denom = vn[:, None] * qnorm[None, :]
                            with np.errstate(divide="ignore", invalid="ignore"):
                                ratio = acc / denom
                            dist = 1.0 - np.where(denom == 0.0, 0.0, ratio)
                        else:
                            dist = -1.0 * acc
                    part = {
                        c: np.repeat(sub[c].values, m) for c in scalar_names
                    }
                    part["query_id"] = np.tile(qids, n)
                    if carry_probe_rank:
                        part["probe_rank"] = np.tile(pranks, n)
                    flat = dist.reshape(-1)
                    part["__ivf_rawdist"] = flat
                    part["__ivf_dnan"] = np.isnan(flat)
                    out_parts.append(pd.DataFrame(part))
                if (~ok).any():
                    # NULL-array / null-element / ragged vectors: SQL's
                    # zip_with padding turns the dot NULL — COSINE's coalesce
                    # maps that to distance 1.0, the other metrics stay NULL
                    sub = grp[~ok]
                    n = len(sub)
                    part = {c: np.repeat(sub[c].values, m) for c in scalar_names}
                    part["query_id"] = np.tile(qids, n)
                    if carry_probe_rank:
                        part["probe_rank"] = np.tile(pranks, n)
                    part["__ivf_rawdist"] = (
                        np.full(n * m, 1.0) if cosine else pd.array([None] * (n * m), dtype="Float64")
                    )
                    part["__ivf_dnan"] = np.zeros(n * m, dtype=bool)
                    out_parts.append(pd.DataFrame(part))
                for p in out_parts:
                    yield p

    return store.mapInPandas(score, schema)


def knn_join(
    items: DataFrame,
    queries: DataFrame,
    k: int = 5,
    metric: str = "COSINE",
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Exact k-NN join: for every query row, the k nearest item rows.

    Plan: broadcast(queries) nested-loop join — ONE scan of the items table
    scores all queries (batch amortization is the whole point on 100 TB);
    per-query top-k via a rank window partitioned by query_id. The window
    shuffles (item_id, query_id, dist) tuples only — never embeddings.

    COSINE norms are materialized per ROW before the pair join (r13 opt:
    ``cosine_distance_prenorm``) — same fold, same guard, same double, one
    dot per pair instead of dot + two norms on the O(n·m) relation.
    """
    if metric == "COSINE":
        ia = P.to_double_array(item_vec, "spark")
        qa = P.to_double_array(query_vec, "spark")
        items = items.withColumn("__knn_inorm", F.expr(P.norm2(ia, "spark")))
        queries = queries.withColumn("__knn_qnorm", F.expr(P.norm2(qa, "spark")))
        dist = P.cosine_distance_prenorm(
            P.to_double_array(f"i.{item_vec}", "spark"),
            P.to_double_array(f"q.{query_vec}", "spark"),
            "i.__knn_inorm", "q.__knn_qnorm", "spark",
        )
    else:
        dist = distance_expr(f"i.{item_vec}", f"{P.to_double_array(f'q.{query_vec}', 'spark')}", metric)
    scored = (
        items.alias("i")
        .join(F.broadcast(queries.alias("q")))
        .select(
            F.col(f"q.{query_id}").alias("query_id"),
            F.col(f"i.{item_id}").alias("neighbor_id"),
            F.expr(f"round({dist}, 6)").alias("distance"),
        )
    )
    return _rank_per_query(scored, k)


def _rank_per_query(scored: DataFrame, k: int) -> DataFrame:
    """The k nearest (query_id, neighbor_id, distance) rows per query, ties
    broken by neighbor_id, with their 1-based rank."""
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "distance")
    )


def hyperplane_expr(vec_col: str, n_planes: int, dim: int, dialect: str) -> str:
    """Bucket id from the signs of n_planes pseudo-random hyperplane dot
    products. Hyperplane h's entry j = H('lshplane:h:j') scaled to [-1,1] —
    a deterministic constant both engines compute identically, so LSH results
    are oracle-checkable (unlike fitted k-means centroids)."""
    a = P.to_double_array(vec_col, dialect)
    bits = []
    for h in range(n_planes):
        if dialect == "spark":
            seeded = f"concat('lshplane:{h}:', i)"
            plane = (
                f"transform(sequence(0, {dim - 1}), "
                f"i -> cast({P.hash64(seeded, 'spark')} % 2000001 as double) / 1000000.0 - 1.0)"
            )
            d = P.dot(a, plane, "spark")
            bits.append(f"CASE WHEN {d} > 0 THEN cast(pow(2, {h}) as bigint) ELSE 0L END")
        else:
            seeded = f"('lshplane:{h}:' || i)"
            plane = (
                f"list_transform(generate_series(0, {dim - 1}), "
                f"i -> ({P.hash64(seeded, 'duck')} % 2000001)::DOUBLE / 1000000.0 - 1.0)"
            )
            d = P.dot(a, plane, "duck")
            bits.append(f"CASE WHEN {d} > 0 THEN (2**{h})::BIGINT ELSE 0::BIGINT END")
    return "(" + " + ".join(bits) + ")"


def signed_projection_buckets(
    df: DataFrame, n_planes: int = 8, dim: int = 64, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Assign every vector an LSH bucket id (0 .. 2^n_planes - 1). Narrow,
    JVM-side; at scale, write the store partitioned by bucket so probes prune
    partitions at scan time."""
    return df.withColumn("bucket", F.expr(hyperplane_expr(vec_col, n_planes, dim, "spark")))


def lsh_knn_join(
    items: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    metric: str = "COSINE",
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate k-NN join: score only item/query pairs sharing an LSH
    bucket. Recall < 1 by construction (single probe); ``multiprobe=True``
    also probes every radius-1 bucket (one sign bit flipped — the planes a
    near-boundary vector most plausibly landed across), multiplying probe
    cost by (n_planes+1) but NOT item-side cost: each item still lives in
    exactly one bucket, so the join stays a hash join on bucket — no nested
    loop, no full scan per query. At scale the query side is the small
    broadcast side, so multiprobe's cost is n_planes extra broadcast rows
    per query, while recall typically jumps 2-5x (FAISS-style multiprobe).
    """
    bi = signed_projection_buckets(items, n_planes, dim, item_id, item_vec)
    bq = queries.withColumn("bucket", F.expr(hyperplane_expr(query_vec, n_planes, dim, "spark")))
    if multiprobe:
        probes = (
            f"array_distinct(concat(array(bucket), "
            f"transform(sequence(0, {n_planes - 1}), "
            f"h -> cast(bucket as bigint) ^ shiftleft(1L, h))))"
        )
        bq = bq.withColumn("bucket", F.explode(F.expr(probes)))
    if metric == "COSINE":
        bi = bi.withColumn(
            "__knn_inorm", F.expr(P.norm2(P.to_double_array(item_vec, "spark"), "spark"))
        )
        bq = bq.withColumn(
            "__knn_qnorm", F.expr(P.norm2(P.to_double_array(query_vec, "spark"), "spark"))
        )
        dist = P.cosine_distance_prenorm(
            P.to_double_array(f"i.{item_vec}", "spark"),
            P.to_double_array(f"q.{query_vec}", "spark"),
            "i.__knn_inorm", "q.__knn_qnorm", "spark",
        )
    else:
        dist = distance_expr(f"i.{item_vec}", f"{P.to_double_array(f'q.{query_vec}', 'spark')}", metric)
    scored = (
        bi.alias("i")
        .join(F.broadcast(bq.alias("q")), F.col("i.bucket") == F.col("q.bucket"))
        .select(
            F.col(f"q.{query_id}").alias("query_id"),
            F.col(f"i.{item_id}").alias("neighbor_id"),
            F.expr(f"round({dist}, 6)").alias("distance"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "distance")
    )


def lloyd_kmeans(x, k: int, seed: int = 42, max_iter: int = 10, rng=None):
    """Plain Lloyd on a driver-side numpy sample — the FAISS-style coarse
    quantizer fit (quantizers train on ~max(10k, 40·k) sampled vectors; the
    cluster-scale stage is only the assignment). ``rng`` lets a caller
    thread ONE evolving generator through several fits (PQ's per-subspace
    codebooks) so inits stay decorrelated across calls."""
    import numpy as np

    rng = rng if rng is not None else np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(k, len(x)), replace=False)]
    for _ in range(max_iter):
        d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        lab = d.argmin(axis=1)
        new = np.asarray(
            [x[lab == i].mean(axis=0) if (lab == i).any() else cents[i] for i in range(len(cents))]
        )
        if np.allclose(new, cents):
            break
        cents = new
    return cents


class IVFIndex:
    """IVF-style ANN: k-means coarse quantizer + centroid-pruned probe.

    Build: fit KMeans(n_centroids) on (a sample of) the store; persist the
    store partitioned by centroid id (``partitionBy("centroid")``), so a probe
    reading nprobe centroids is a partition-pruned scan — the Spark analogue
    of Oracle's IVF index (reference K4, embedding.py:348-368).

    Not oracle-checkable (fitted centroids aren't reproducible in DuckDB);
    exact knn_join is the correctness oracle for recall measurement.
    """

    def __init__(
        self,
        n_centroids: int = 16,
        seed: int = 42,
        vec_col: str = "embedding",
        max_iter: int = 10,
    ):
        self.n_centroids = n_centroids
        self.seed = seed
        self.vec_col = vec_col
        # A coarse quantizer doesn't need converged clusters — it needs a
        # balanced partitioning. Lloyd on a DRIVER-SIDE sample (the FAISS
        # approach: IVF quantizers train on ~max(10k, 40·k) sampled vectors)
        # costs milliseconds; the cluster-scale work is only the ASSIGNMENT,
        # which runs as a JVM columnar expression — no pyspark.ml jobs, no
        # VectorUDT conversion, whole-stage codegen throughout.
        self.max_iter = max_iter
        self.centroids = None  # np.ndarray [n_centroids, dim]

    def fit(
        self, df: DataFrame, sample_fraction: float = 1.0, max_sample: int = 50_000
    ) -> "IVFIndex":
        # fraction= must be keyword: PySpark's sample() shim reads the seed
        # from the positional fraction slot when the first arg is a float,
        # silently IGNORING seed= and leaving the sample unseeded
        train = df if sample_fraction >= 1.0 else df.sample(fraction=sample_fraction, seed=self.seed)
        # limit() alone takes the HEAD of the store in partition order — on
        # a store clustered by label/time that trains the quantizer on one
        # region only (exactly the skew case suggest_fetch_k worries about).
        # Downsample uniformly instead: one cheap count, then a seeded
        # sample with slack; the cap is enforced DRIVER-SIDE with rng.choice
        # (a .limit() after the sample would again cut in partition order,
        # systematically dropping the tail partitions of the store).
        n = train.count()
        if n > max_sample:
            train = train.sample(fraction=min(1.0, 1.2 * max_sample / n), seed=self.seed)
        # Arrow toPandas: ~5x faster than Row collect for array columns
        pdf = train.select(F.col(self.vec_col).cast("array<double>").alias("_v")).toPandas()
        import numpy as np

        x = np.asarray(pdf["_v"].to_list(), dtype=np.float64)
        if len(x) > max_sample:
            rng = np.random.default_rng(self.seed)
            x = x[rng.choice(len(x), size=max_sample, replace=False)]
        if len(x) == 0:
            raise ValueError("cannot fit an IVF index on an empty store")
        self.centroids = lloyd_kmeans(x, self.n_centroids, self.seed, self.max_iter)
        return self

    def _sq_dist_expr(self, i: int) -> str:
        # float(v)!r: repr of a raw numpy scalar is 'np.float64(...)' under
        # numpy >= 2 — invalid SQL; portable.l2sq pins the fold order shared
        # with every other cross-engine distance in the codebase
        lit = ", ".join(f"{float(v)!r}D" for v in self.centroids[i])
        from oaim_sandbox_spark.functions import portable as P

        return P.l2sq(f"cast({self.vec_col} as array<double>)", f"array({lit})", "spark")

    def _require_fitted(self) -> None:
        if self.centroids is None:
            raise ValueError("fit() or load() the index before using it")

    def assign(self, df: DataFrame) -> DataFrame:
        """Nearest-centroid id as a pure JVM expression (argmin over the
        broadcast centroid literals) — scales as a narrow map over the store."""
        self._require_fitted()
        dists = [self._sq_dist_expr(i) for i in range(len(self.centroids))]
        arr = "array(" + ", ".join(dists) + ")"
        return df.withColumn(
            "centroid", F.expr(f"cast(array_position({arr}, array_min({arr})) - 1 as int)")
        )

    def assign_with_dist(self, df: DataFrame) -> DataFrame:
        """assign() plus the L2 distance to the OWN centroid (`centroid_dist`)
        — the per-cluster max of this is the cluster radius, which exact
        range-search pruning needs (pairs with ||a-b|| <= D can only span
        clusters with ||c_i - c_j|| <= D + r_i + r_j)."""
        dists = [self._sq_dist_expr(i) for i in range(len(self.centroids))]
        arr = "array(" + ", ".join(dists) + ")"
        return (
            df.withColumn("_dists", F.expr(arr))
            .withColumn(
                "centroid",
                F.expr("cast(array_position(_dists, array_min(_dists)) - 1 as int)"),
            )
            .withColumn("centroid_dist", F.expr("sqrt(array_min(_dists))"))
            .drop("_dists")
        )

    def write_partitioned(
        self, df: DataFrame, path: str, compact: bool = False
    ) -> None:
        """Full (re)build of the partitioned store. ``compact=True`` clusters
        rows by centroid before the write (one shuffle), so each centroid
        directory gets one file per writing task instead of up to
        n_input_partitions files — the right layout for a fresh build (and
        2-3x faster at bench scale, where the small-file creation dominates).
        Leave False when the input is already centroid-clustered or when a
        single pass over a huge store shouldn't pay an extra shuffle;
        steady-state ingest uses append_partitioned + maintain_store
        compaction regardless."""
        assigned = self.assign(df)
        if compact:
            assigned = assigned.repartition("centroid")
        assigned.write.mode("overwrite").partitionBy("centroid").parquet(path)
        self.save(f"{path}/_ivf_index.json")

    def append_partitioned(self, df: DataFrame, path: str) -> None:
        """Incremental index maintenance: assign NEW vectors against the
        already-fitted centroids and append into the partitioned store —
        no refit, no rewrite of existing partitions (dynamic partition
        append touches only the centroids the batch lands in). This is the
        steady-state path for streaming vector ingest at scale; refit +
        write_partitioned only when centroid drift degrades recall (watch
        the bench recall suite). Search needs no change — probes prune to
        the same partition layout. The batch's columns must match the
        existing store's (parquet append does NOT merge schemas: mixed
        footers would surface appended rows with NULL ids on read), so a
        mismatch raises here instead of corrupting the store."""
        if self.centroids is None:
            raise ValueError("fit() or load() the index before appending")
        assigned = self.assign(df)
        try:
            existing = set(df.sparkSession.read.parquet(path).columns)
        except Exception:  # first write into a fresh path
            existing = None
        if existing is not None and set(assigned.columns) != existing:
            raise ValueError(
                f"append columns {sorted(assigned.columns)} != store columns "
                f"{sorted(existing)} — align the projection before appending"
            )
        assigned.write.mode("append").partitionBy("centroid").parquet(path)

    def partition_histogram(self, spark: SparkSession, path: str) -> dict[int, int]:
        """Per-centroid row counts of a partitioned store — ONE metadata-ish
        aggregation over the partition column (never the vectors). This is
        the input every funnel width should be sized from: under cluster
        skew, a fetch budget tuned to the MEAN cluster misses most of the
        head cluster (the adversarial bench block measures pq 1.0->0.88
        exactly this way)."""
        rows = (
            spark.read.parquet(path)
            .groupBy("centroid")
            .count()
            .collect()
        )
        return {int(r["centroid"]): int(r["count"]) for r in rows}

    @staticmethod
    def suggest_fetch_k(
        histogram: dict[int, int], k: int, floor_mult: int = 15, head_frac: float = 0.25
    ) -> int:
        """Funnel width that survives cluster skew: max(floor_mult*k, a
        head_frac share of the LARGEST cluster). On balanced data this is
        the ordinary floor (e.g. 150 at k=10); under 10x skew it grows with
        the head cluster so the candidate set still spans the neighborhood
        ADC/Hamming must rank. Derived from the measured recovery points in
        the adversarial recall suite (pq fetch 150->400 at a ~1900-vector
        head cluster: 400/1900 ~= 0.21 — head_frac 0.25 adds margin)."""
        if not histogram:
            return floor_mult * k
        return max(floor_mult * k, int(max(histogram.values()) * head_frac))

    def save(self, path: str) -> None:
        """Persist the fitted quantizer (centroids + params) as JSON next to
        the partitioned store, so later sessions probe without refitting —
        the index metadata the reference keeps in its catalog comment (K5)."""
        import json as _json

        with open(path, "w") as fh:
            _json.dump(
                {
                    "n_centroids": self.n_centroids,
                    "seed": self.seed,
                    "vec_col": self.vec_col,
                    "max_iter": self.max_iter,
                    "centroids": [[float(v) for v in c] for c in self.centroids],
                },
                fh,
            )

    @classmethod
    def load(cls, path: str) -> "IVFIndex":
        import json as _json

        import numpy as np

        with open(path) as fh:
            meta = _json.load(fh)
        idx = cls(
            n_centroids=meta["n_centroids"],
            seed=meta["seed"],
            vec_col=meta["vec_col"],
            max_iter=meta["max_iter"],
        )
        idx.centroids = np.asarray(meta["centroids"], dtype=np.float64)
        return idx

    def probe_centroids(self, query_vec: list[float], nprobe: int = 2) -> list[int]:
        import numpy as np

        self._require_fitted()
        q = np.asarray(query_vec, dtype=np.float64)
        d = ((self.centroids - q) ** 2).sum(axis=1)
        return [int(i) for i in d.argsort()[:nprobe]]

    def search(
        self,
        spark: SparkSession,
        path: str,
        query_vec: list[float],
        k: int = 5,
        nprobe: int = 2,
        metric: str = "COSINE",
        id_col: str = "vec_id",
        where: str | None = None,
    ) -> DataFrame:
        """Partition-pruned probe: filter on centroid IN (...) hits only
        nprobe/n_centroids of the data (verify with explain: PartitionFilters).

        ``where`` is an optional metadata predicate (e.g. "label = 2") applied
        to the pruned scan BEFORE distances — pre-filter semantics, the
        correct top-k-of-matching behavior (post-filtering an unfiltered
        top-k silently returns < k rows). The predicate reaches the parquet
        scan as a PushedFilter, so a selective filter cuts I/O too."""
        cents = self.probe_centroids(query_vec, nprobe)
        store = spark.read.parquet(path).filter(F.col("centroid").isin(cents))
        if where is not None:
            store = store.filter(where)
        dist = distance_expr(self.vec_col, query_vec, metric)
        return (
            store.withColumn("distance", F.expr(f"round({dist}, 6)"))
            .orderBy(F.col("distance").asc(), F.col(id_col).asc())
            .limit(k)
        )

    def search_batch(
        self,
        spark: SparkSession,
        path: str,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 2,
        metric: str = "COSINE",
        id_col: str = "vec_id",
        query_id: str = "query_id",
        query_vec: str = "query_vec",
        where: str | None = None,
        query_cols: list[str] | None = None,
        pair_where: str | None = None,
    ) -> DataFrame:
        """Batched IVF probe: ONE pruned scan answers a whole query batch.
        ``where``: optional metadata predicate, pre-filter semantics (see
        ``search``); applied once to the shared pruned scan.

        ``query_cols``/``pair_where``: PER-QUERY pre-filter semantics —
        extra columns from the query frame (e.g. the query's own label) are
        carried through the broadcast, and ``pair_where`` may reference
        both store and carried query columns (e.g. ``"label <> qlabel AND
        vec_id <> query_id"`` for hard-negative mining). Applied after the
        centroid join but BEFORE ranking, so each query's top-k is the
        top-k of its own matching rows; centroid partition pruning still
        bounds the scan (a per-query predicate can't reach the parquet
        scan the way the uniform ``where`` does).

        Per-query `search` costs one Spark job each — fine interactively,
        wrong for offline batch retrieval (the reference's testbed shape:
        hundreds of questions at once). Here every query row is tagged with
        its probed centroid ids driver-side (a |queries| x n_centroids numpy
        argsort — centroids are driver-resident by construction), the scan
        reads the UNION of probed partitions once (partition pruning still
        applies), and a broadcast (query, centroid) join + per-query rank
        window yields all top-k lists in one job (WindowGroupLimit computes
        each task's local top-k below the rank shuffle). Returns
        (query_id, vec_id..., distance, rank).

        r13 optimization notes: the query batch crosses the driver boundary
        as Arrow (toPandas) and then travels to the executors in the task
        closure as per-centroid NumPy blocks — no probe frame is created and
        no vector crosses per PAIR. Scoring runs vectorized in
        ``_np_cell_scores`` (bit-identical left-to-right folds; measured
        ~3.4s -> ~0.9s on the 3M-pair consensus probe at sf0.1, where the
        per-pair interpreted ``aggregate(zip_with(...))`` folds were ~3.0s
        of the job). The former broadcast-join + JVM-expression path remains
        as the fallback for exotic metrics or store-schema collisions, and
        ``pair_where``/``query_cols`` keep identical semantics: the
        predicate is applied to the scored relation (store scalar columns +
        carried query columns) BEFORE ranking. A ``pair_where`` that
        references the store vector column or the (un-carried) query vector
        routes to the JVM join path automatically (r14, ADVICE r13) — the
        NumPy-scored relation does not expose those columns.
        """
        import numpy as np

        from pyspark.sql.window import Window

        if self.centroids is None:
            raise ValueError("fit() or load() the index before searching")
        # Arrow toPandas (r13 opt): same rows/order as collect() — partition
        # order either way — but batches cross as Arrow instead of pickled
        # Rows (guide §6 "Arrow for driver transfers").
        qpdf = queries.select(query_id, query_vec).toPandas()
        if len(qpdf) == 0:
            raise ValueError("empty query batch")
        qids = qpdf[query_id].tolist()
        qmat = np.asarray([list(map(float, v)) for v in qpdf[query_vec]])
        d2 = ((qmat[:, None, :] - self.centroids[None, :, :]) ** 2).sum(axis=2)
        probes = d2.argsort(axis=1)[:, :nprobe]
        qid_t = _qid_ddl(queries, query_id)
        all_cents = sorted({int(c) for row in probes for c in row})
        store = spark.read.parquet(path).filter(F.col("centroid").isin(all_cents))
        if where is not None:
            store = store.filter(where)
        # ADVICE r13: the NumPy-scored relation carries neither the store
        # vector nor the query vector (unless the caller carries the latter
        # through query_cols), so a pair_where naming them must take the JVM
        # join path — which still exposes both — for identical semantics.
        dropped_vecs = [self.vec_col] + ([query_vec] if query_vec not in (query_cols or []) else [])
        use_np = _np_path_ok(store, self.vec_col, metric, query_id) and not _pred_refs_cols(
            pair_where, dropped_vecs
        )
        if use_np:
            cells = _np_query_cells(qids, qmat, probes, qid_t, carry_rank=False)
            scored = _np_cell_scores(store, self.vec_col, cells, metric, qid_t)
            if query_id != "query_id":
                scored = scored.withColumnRenamed("query_id", query_id)
            if query_cols:
                scored = scored.join(
                    F.broadcast(queries.select(query_id, *query_cols)), query_id
                )
            if pair_where is not None:
                scored = scored.filter(pair_where)
            scored = scored.withColumn("distance", F.expr(_NP_DIST_EXPR))
        else:
            pairs = [
                (int(qid) if not isinstance(qid, str) else qid, int(c), [float(x) for x in qv])
                for qid, qv, row in zip(qids, qmat, probes)
                for c in row
            ]
            qdf = _pairs_df(spark, pairs, f"{query_id} {qid_t}, centroid INT, {query_vec} ARRAY<DOUBLE>")
            if query_cols:
                qdf = qdf.join(queries.select(query_id, *query_cols), query_id)
            if metric == "COSINE":
                # per-ROW norms before the pair join (cosine_distance_prenorm)
                store = store.withColumn(
                    "__ivf_inorm",
                    F.expr(P.norm2(P.to_double_array(self.vec_col, "spark"), "spark")),
                )
                qdf = qdf.withColumn(
                    "__ivf_qnorm",
                    F.expr(P.norm2(P.to_double_array(query_vec, "spark"), "spark")),
                )
                dist = P.cosine_distance_prenorm(
                    P.to_double_array(self.vec_col, "spark"),
                    P.to_double_array(query_vec, "spark"),
                    "__ivf_inorm", "__ivf_qnorm", "spark",
                )
            else:
                dist = distance_expr(self.vec_col, P.to_double_array(query_vec, "spark"), metric)
            scored = store.join(F.broadcast(qdf), "centroid")
            if pair_where is not None:
                scored = scored.filter(pair_where)
            scored = scored.withColumn("distance", F.expr(f"round({dist}, 6)"))
        w = Window.partitionBy(query_id).orderBy(F.col("distance").asc(), F.col(id_col).asc())
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, id_col, "distance", "rank")
        )

    def search_batch_multi(
        self,
        spark: SparkSession,
        path: str,
        queries: DataFrame,
        k: int = 5,
        nprobes: tuple[int, ...] = (2, 4),
        metric: str = "COSINE",
        id_col: str = "vec_id",
        query_id: str = "query_id",
        query_vec: str = "query_vec",
        where: str | None = None,
    ) -> DataFrame:
        """`search_batch` at SEVERAL probe widths from ONE pruned scan —
        the probe-width-sweep API (recall tuning, `recommend_tiers`-style
        operating-point searches, round-over-round bench tiers). Per query
        the probed-centroid ORDER comes from one argsort of the centroid
        distances, so each width's candidate set is bit-identical to a
        standalone `search_batch(nprobe=width)` call. The scan reads the
        union of partitions once (pruned to the widest width), the scored
        candidate relation — bounded by |queries| x widest-probe partition
        rows — is materialized eagerly (the returned frame reads it, so it
        is the caller's), and each width then ranks its probe-prefix of the
        candidates without touching storage again.
        Returns (query_id, vec_id..., distance, rank, nprobe)."""
        import numpy as np

        from pyspark.sql.window import Window

        if self.centroids is None:
            raise ValueError("fit() or load() the index before searching")
        widths = sorted({int(n) for n in nprobes})
        if not widths or widths[0] < 1:
            raise ValueError(f"nprobes must be positive ints, got {nprobes!r}")
        nmax = widths[-1]
        qpdf = queries.select(query_id, query_vec).toPandas()
        if len(qpdf) == 0:
            raise ValueError("empty query batch")
        qids = qpdf[query_id].tolist()
        qmat = np.asarray([list(map(float, v)) for v in qpdf[query_vec]])
        d2 = ((qmat[:, None, :] - self.centroids[None, :, :]) ** 2).sum(axis=2)
        probes = d2.argsort(axis=1)[:, :nmax]
        qid_t = _qid_ddl(queries, query_id)
        all_cents = sorted({int(c) for row in probes for c in row})
        store = spark.read.parquet(path).filter(F.col("centroid").isin(all_cents))
        if where is not None:
            store = store.filter(where)
        use_np = _np_path_ok(store, self.vec_col, metric, query_id)
        if use_np:
            # vectorized scorer (see search_batch): queries travel in the
            # task closure, probe_rank rides along per (query, centroid)
            cells = _np_query_cells(qids, qmat, probes, qid_t, carry_rank=True)
            scored = _np_cell_scores(
                store, self.vec_col, cells, metric, qid_t, carry_probe_rank=True
            )
            if query_id != "query_id":
                scored = scored.withColumnRenamed("query_id", query_id)
            scored = checkpoint(
                scored.withColumn("distance", F.expr(_NP_DIST_EXPR))
                .select(query_id, id_col, "probe_rank", "distance")
            )
        else:
            pairs = [
                (int(qid) if not isinstance(qid, str) else qid, int(c), int(j), [float(x) for x in qv])
                for qid, qv, row in zip(qids, qmat, probes)
                for j, c in enumerate(row)
            ]
            qdf = _pairs_df(
                spark,
                pairs,
                f"{query_id} {qid_t}, centroid INT, probe_rank INT, {query_vec} ARRAY<DOUBLE>",
            )
            if metric == "COSINE":
                store = store.withColumn(
                    "__ivf_inorm",
                    F.expr(P.norm2(P.to_double_array(self.vec_col, "spark"), "spark")),
                )
                qdf = qdf.withColumn(
                    "__ivf_qnorm",
                    F.expr(P.norm2(P.to_double_array(query_vec, "spark"), "spark")),
                )
                dist = P.cosine_distance_prenorm(
                    P.to_double_array(self.vec_col, "spark"),
                    P.to_double_array(query_vec, "spark"),
                    "__ivf_inorm", "__ivf_qnorm", "spark",
                )
            else:
                dist = distance_expr(self.vec_col, P.to_double_array(query_vec, "spark"), metric)
            scored = checkpoint(
                store.join(F.broadcast(qdf), "centroid")
                .withColumn("distance", F.expr(f"round({dist}, 6)"))
                .select(query_id, id_col, "probe_rank", "distance")
            )
        w = Window.partitionBy(query_id).orderBy(F.col("distance").asc(), F.col(id_col).asc())
        out = None
        for width in widths:
            part = (
                scored.filter(F.col("probe_rank") < width)
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select(query_id, id_col, "distance", "rank", F.lit(width).alias("nprobe"))
            )
            out = part if out is None else out.unionByName(part)
        return out


class PQIndex:
    """Product quantization (Jégou et al. 2011, the FAISS IVFPQ code path):
    tile each vector into ``m`` subspaces, Lloyd-fit ``k`` codewords per
    subspace on a driver-side sample, and store each vector as ``m`` small
    codes — 64x compression at m=4/k=16 over 64-dim float32, the tier past
    int8 when the store must live in scan bandwidth, not capacity.

    Like IVFIndex, fitting is driver-side (FAISS trains PQ codebooks on a
    sample too); the cluster-scale stages are ENCODE (nearest-codeword argmin
    per subspace as a pure JVM columnar expression — narrow map, codegen) and
    ADC SEARCH (a per-query m x k lookup table built driver-side in
    microseconds, then one narrow scan of the codes + TakeOrderedAndProject —
    the original vectors are never read). Fitted codebooks aren't
    SQL-reproducible, so the value oracle for the ADC machinery is the
    deterministic sampled-codebook twin ``queries.pq_adc_topk``; this class's
    recall against exact k-NN is measured in tests/test_ann.py.
    """

    def __init__(
        self,
        m: int = 4,
        k: int = 16,
        dim: int = 64,
        seed: int = 42,
        vec_col: str = "embedding",
        max_iter: int = 10,
    ):
        assert dim % m == 0, "subspaces must tile the vector"
        self.m, self.k, self.dim, self.seed = m, k, dim, seed
        self.sub = dim // m
        self.vec_col = vec_col
        self.max_iter = max_iter
        self.codebooks = None  # np.ndarray [m, k, dim/m]

    def fit(self, df: DataFrame, max_sample: int = 50_000) -> "PQIndex":
        import numpy as np

        # uniform sample, not a head-of-partition limit (see IVFIndex.fit)
        n = df.count()
        train = df
        if n > max_sample:
            train = df.sample(fraction=min(1.0, 1.2 * max_sample / n), seed=self.seed)
        pdf = train.select(F.col(self.vec_col).cast("array<double>").alias("_v")).toPandas()
        x = np.asarray(pdf["_v"].to_list(), dtype=np.float64)
        if len(x) == 0:
            raise ValueError("cannot fit a PQ index on an empty store")
        if len(x) > max_sample:
            # cap driver-side, uniformly — a .limit() would cut in partition
            # order and systematically drop the store's tail (see IVFIndex.fit)
            x = x[np.random.default_rng(self.seed).choice(len(x), size=max_sample, replace=False)]
        # per-subspace codebooks via the shared Lloyd loop (one definition —
        # init, empty-cluster fallback, and early exit stay in lockstep).
        # ONE evolving rng threads through all subspaces: a fresh rng with
        # the same seed per subspace picks the SAME init rows everywhere —
        # correlated codebooks that measurably cost recall (1.0 -> 0.82 on
        # the bench suite)
        rng = np.random.default_rng(self.seed)
        books = [
            lloyd_kmeans(x[:, s * self.sub : (s + 1) * self.sub], self.k,
                         max_iter=self.max_iter, rng=rng)
            for s in range(self.m)
        ]
        self.codebooks = np.asarray(books)
        return self

    def save(self, path: str) -> None:
        """Persist fitted codebooks as JSON (IVFIndex.save parity): encoded
        stores are useless without the exact codebooks that produced them, so
        they travel together."""
        import json as _json

        if self.codebooks is None:
            raise ValueError("fit() before save()")
        with open(path, "w") as fh:
            _json.dump(
                {
                    "m": self.m, "k": self.k, "dim": self.dim,
                    "seed": self.seed, "vec_col": self.vec_col,
                    "max_iter": self.max_iter,
                    "codebooks": [[[float(v) for v in w] for w in book] for book in self.codebooks],
                },
                fh,
            )

    @classmethod
    def load(cls, path: str) -> "PQIndex":
        import json as _json

        import numpy as np

        with open(path) as fh:
            meta = _json.load(fh)
        idx = cls(m=meta["m"], k=meta["k"], dim=meta["dim"], seed=meta["seed"],
                  vec_col=meta["vec_col"], max_iter=meta["max_iter"])
        idx.codebooks = np.asarray(meta["codebooks"], dtype=np.float64)
        return idx

    def _sub_dist_exprs(self, s: int, sub_expr: str) -> list[str]:
        out = []
        for c in range(self.k):
            # float(v)!r: numpy>=2 reprs scalars as 'np.float64(...)'
            lit = ", ".join(f"{float(v)!r}D" for v in self.codebooks[s][c])
            out.append(P.l2sq(sub_expr, f"array({lit})", "spark"))
        return out

    def encode(self, df: DataFrame, out_col: str = "pq_codes", keep_vec: bool = False) -> DataFrame:
        """Add ARRAY<TINYINT> codes (one per subspace) as a narrow JVM
        projection; drop the float vector unless keep_vec (the point of PQ is
        that the store scans CODES, not vectors)."""
        av = f"cast({self.vec_col} as array<double>)"
        per_sub = []
        for s in range(self.m):
            sub_expr = f"slice({av}, {s * self.sub + 1}, {self.sub})"
            dists = "array(" + ", ".join(self._sub_dist_exprs(s, sub_expr)) + ")"
            per_sub.append(f"cast(array_position({dists}, array_min({dists})) - 1 as tinyint)")
        codes = "array(" + ", ".join(per_sub) + ")"
        out = df.withColumn(out_col, F.expr(codes))
        return out if keep_vec else out.drop(self.vec_col)

    def adc_expr(self, query_vec: list[float], codes_col: str = "pq_codes") -> str:
        """Squared-L2 ADC distance as a JVM expression: LUT[s][code[s]] summed
        over subspaces. The LUT (m x k doubles) is computed here, driver-side,
        and inlined as literals — per query it's microseconds and broadcasts
        with the plan."""
        import numpy as np

        if self.codebooks is None:
            raise ValueError("fit() or load() the index before searching")
        q = np.asarray(query_vec, dtype=np.float64)
        lut_rows = []
        for s in range(self.m):
            qs = q[s * self.sub : (s + 1) * self.sub]
            ds = ((self.codebooks[s] - qs[None, :]) ** 2).sum(axis=1)
            lut_rows.append("array(" + ", ".join(f"{float(v)!r}D" for v in ds) + ")")
        lut = "array(" + ", ".join(lut_rows) + ")"
        return (
            f"aggregate(sequence(0, {self.m - 1}), cast(0 as double), (acc, s) -> "
            f"acc + element_at(element_at({lut}, s + 1), cast(element_at({codes_col}, s + 1) as int) + 1))"
        )

    def search(
        self,
        codes_df: DataFrame,
        query_vec: list[float],
        k: int = 10,
        fetch_k: int = 50,
        exact_df: DataFrame | None = None,
        id_col: str = "vec_id",
        codes_col: str = "pq_codes",
    ) -> DataFrame:
        """ADC top-fetch_k over the codes store (narrow scan +
        TakeOrderedAndProject — no shuffle, no vector reads); optionally
        re-rank the survivors exactly against ``exact_df`` (id, vec) — the
        two-stage shape every production PQ system uses."""
        cand = (
            codes_df.withColumn("adc_dist", F.expr(f"round(sqrt({self.adc_expr(query_vec, codes_col)}), 6)"))
            .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
            .limit(fetch_k)
        )
        if exact_df is None:
            return cand.select(id_col, "adc_dist").limit(k)
        dist = distance_expr(self.vec_col, query_vec, "EUCLIDEAN_DISTANCE")
        return (
            # broadcast the fetch_k-bounded candidates: the re-rank join then
            # streams the store once instead of shuffling it (and never
            # re-evaluates the ADC/encode expressions on the build side)
            F.broadcast(cand.select(id_col, "adc_dist"))
            .join(exact_df.select(id_col, self.vec_col), id_col)
            .withColumn("distance", F.expr(f"round({dist}, 6)"))
            .orderBy(F.col("distance").asc(), F.col(id_col).asc())
            .select(id_col, "distance", "adc_dist")
            .limit(k)
        )

    def search_batch(
        self,
        codes_df: DataFrame,
        queries: DataFrame,
        k: int = 10,
        id_col: str = "vec_id",
        codes_col: str = "pq_codes",
        query_id: str = "query_id",
        query_vec: str = "query_vec",
    ) -> DataFrame:
        """Batched ADC: one scan of the codes store answers a whole query
        batch. Per-query LUTs (m x k squared-subdistances, numpy) ship as a
        broadcast (query_id, lut ARRAY<ARRAY<DOUBLE>>) relation; the ADC sum
        becomes a zip_with over (codes, lut) per joined row, and a per-query
        rank window emits every top-k. Returns (query_id, id, adc_dist,
        rank). Exact re-rank composes on top exactly as in `search`."""
        import numpy as np

        from pyspark.sql.window import Window

        if self.codebooks is None:
            raise ValueError("fit() the index before searching")
        qrows = queries.select(query_id, query_vec).collect()
        if not qrows:
            raise ValueError("empty query batch")
        luts = []
        for r in qrows:
            q = np.asarray([float(x) for x in r[1]], dtype=np.float64)
            lut = [
                ((self.codebooks[s] - q[s * self.sub : (s + 1) * self.sub][None, :]) ** 2)
                .sum(axis=1)
                .tolist()
                for s in range(self.m)
            ]
            luts.append((r[0], lut))
        spark = codes_df.sparkSession
        # string query ids are first-class, matching IVFIndex.search_batch;
        # the DDL type comes from the batch's schema, not the first row
        qid_t = _qid_ddl(queries, query_id)
        if qid_t == "BIGINT":
            luts = [(int(qid), lut) for qid, lut in luts]
        qdf = spark.createDataFrame(
            luts, f"{query_id} {qid_t}, lut ARRAY<ARRAY<DOUBLE>>"
        )
        adc = (
            f"round(sqrt(aggregate(zip_with({codes_col}, lut, "
            f"(c, row) -> element_at(row, cast(c as int) + 1)), "
            f"cast(0 as double), (s, x) -> s + x)), 6)"
        )
        scored = codes_df.join(F.broadcast(qdf)).withColumn("adc_dist", F.expr(adc))
        w = Window.partitionBy(query_id).orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, id_col, "adc_dist", "rank")
        )


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", prefix: str = "q"
) -> DataFrame:
    """Tier 0 storage path: symmetric int8 quantization of a vector column.

    Adds ``{prefix}vec`` (ARRAY<TINYINT>, values in [-127, 127]) and
    ``{prefix}scale`` (DOUBLE, the per-vector infinity norm) and drops the
    float column — a 4x reduction of the dominant column at 100 TB (the
    scan-bandwidth win is what matters: quantized stores stream 4x more
    vectors/sec through the same executors). An element dequantizes as
    ``cast(x as double) * {prefix}scale / 127.0``. The int8 tier scores
    without a dequantized copy: ``int8_distance`` applies that expression
    to each element inside its distance fold, and ``prepare_int8`` adds
    the dequantized vector's L2 norm once per row.

    Reference parity: the reference stores float32 Oracle VECTOR columns
    (embedding.py:312-318) with no compression tier — this is a
    beyond-reference scale path (quantized_topk query; recall bound in
    tests/test_ann.py).
    """
    a = P.to_double_array(vec_col, "spark")
    scale = P.absmax(a, "spark")
    qvec = P.quantize_int8(a, f"{prefix}scale", "spark")
    return (
        df.withColumn(f"{prefix}scale", F.expr(scale))
        .withColumn(f"{prefix}vec", F.expr(f"transform({qvec}, x -> cast(x as tinyint))"))
        .drop(vec_col)
    )


def _dequantized(x: str, prefix: str) -> str:
    """The dequantized double of one ``{prefix}vec`` element ``x``."""
    return f"(cast({x} as double) * {prefix}scale / 127.0)"


def _dequantized_array(prefix: str) -> str:
    return f"transform({prefix}vec, x -> {_dequantized('x', prefix)})"


def dequantize_embeddings(
    df: DataFrame, prefix: str = "q", out_col: str = "embedding"
) -> DataFrame:
    """Inverse of quantize_embeddings (lossy: |error| <= scale/254 per dim).
    No serving path calls it: the tests use it as the reference that
    ``int8_distance`` must match bit for bit."""
    return df.withColumn(out_col, F.expr(_dequantized_array(prefix))).drop(
        f"{prefix}vec", f"{prefix}scale")


def prepare_int8(df: DataFrame) -> DataFrame:
    """The int8 tier's prepared relation: ``quantize_embeddings`` of the
    ``embedding`` column plus ``qnorm``, the L2 norm of the dequantized
    vector — ``norm2`` over the dequantized array, the same fold
    ``knn_join`` applies per item row. The norm is the only
    query-independent part of a cosine distance, so a store prepared once
    leaves each query one fused fold per row."""
    return quantize_embeddings(df).withColumn(
        "qnorm", F.expr(P.norm2(_dequantized_array("q"), "spark"))
    )


def int8_distance(metric: str, query: str, query_norm: str) -> str:
    """Distance between a ``prepare_int8`` row and ``query`` (a double-array
    SQL fragment) with dequantization fused into the fold: each element is
    dequantized inside the ``zip_with`` lambda, so no dequantized array is
    built. The IEEE operations and their order are those of
    dequantize-then-``distance_expr``, so the distance is bit-identical.
    COSINE divides by ``qnorm`` times ``query_norm`` (an SQL fragment
    holding ``norm2`` of the query) with ``cosine_distance_prenorm``'s
    zero guard; the other metrics ignore ``query_norm``."""
    e = _dequantized("x", "q")

    def fold(term: str) -> str:
        return (f"aggregate(zip_with(qvec, {query}, (x, y) -> {term}), "
                "cast(0 as double), (s, x) -> s + x)")

    if metric == "COSINE":
        denom = f"nullif(qnorm * {query_norm}, 0.0)"
        return f"(1.0 - coalesce({fold(f'{e} * y')} / {denom}, 0.0))"
    if metric == "DOT_PRODUCT":
        return f"(-1.0 * {fold(f'{e} * y')})"
    if metric == "EUCLIDEAN_DISTANCE":
        return f"sqrt({fold(f'({e} - y) * ({e} - y)')})"
    raise ValueError(f"unknown metric {metric}; expected one of {_NP_SCORE_METRICS}")


def int8_knn_join(
    prepared: DataFrame, queries: DataFrame, k: int = 5, metric: str = "COSINE"
) -> DataFrame:
    """``knn_join`` over a ``prepare_int8`` relation (vec_id, qvec, qscale,
    qnorm) for a (query_id, query_vec) batch: one broadcast pair scan
    scored by ``int8_distance``, then the per-query rank window. The query
    norm is folded once per query row. Returns knn_join's columns."""
    qa = P.to_double_array("query_vec", "spark")
    queries = queries.withColumn("__knn_qnorm", F.expr(P.norm2(qa, "spark")))
    dist = int8_distance(metric, qa, "__knn_qnorm")
    scored = prepared.join(F.broadcast(queries)).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr(f"round({dist}, 6)").alias("distance"),
    )
    return _rank_per_query(scored, k)


# Recall-floor guardrail (r6 VERDICT task 2): sampled per-(store, tier)
# recall probe + accept/widen/refuse recommender. Lives in tier_guard.py;
# re-exported here because the tier ladder is part of the ANN surface.
from oaim_sandbox_spark.operators.tier_guard import (  # noqa: E402
    TIER_LADDER,
    assert_tier_usable,
    recommend_tiers,
    sampled_tier_recall,
)
