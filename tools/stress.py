"""Reproducible scale-stress runs behind the numbers recorded in BASELINE.md.

Each subcommand synthesizes a workload far past the bench's sf0.1 (resampled
texts / generated vectors), runs the SAME code path the bench exercises, and
prints one JSON line. These are the "would it still work at 100x" probes —
run them after touching the corresponding operator.

Usage:
    python tools/stress.py minhash   [n_docs=200000]
    python tools/stress.py simhash   [n_docs=200000]
    python tools/stress.py embpairs  [n_vecs=100000]
    python tools/stress.py split1m   [n_docs=1000000]
    python tools/stress.py pca       [n_vecs=500000]
    python tools/stress.py semdedup  [n_vecs=50000]
    python tools/stress.py cc        [n_docs=200000]
    python tools/stress.py classifier [n_docs=200000]
    python tools/stress.py spans     [n_docs=100000]
    python tools/stress.py colbert   [n_docs=50000]
    python tools/stress.py tfidf     [n_docs=50000]
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.1"


def _spark(name: str):
    from oaim_sandbox_spark.session import get_spark

    return get_spark(name)


def _resampled_docs(spark, n_docs: int):
    """sf0.1 texts replicated to n_docs with unique ids — the extreme-
    duplication worst case for banded dedup (every replica collides in
    every band)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    reps = (n_docs + 4999) // 5000
    big = (
        docs.crossJoin(spark.range(reps).withColumnRenamed("id", "rep"))
        .select((F.col("doc_id") * 1000 + F.col("rep")).alias("doc_id"), "text")
        .limit(n_docs)
    )
    return big.repartition(64).localCheckpoint()


def stress_minhash(n_docs: int = 200_000) -> dict:
    from oaim_sandbox_spark.operators.dedup import minhash_lsh_pairs

    spark = _spark("stress-minhash")
    big = _resampled_docs(spark, n_docs)
    n = big.count()
    t0 = time.time()
    pairs = minhash_lsh_pairs(big).count()
    dt = time.time() - t0
    spark.stop()
    return {"stress": "minhash_lsh", "docs": n, "pairs": pairs, "seconds": round(dt, 1)}


def stress_simhash(n_docs: int = 200_000) -> dict:
    from oaim_sandbox_spark.operators.dedup import simhash_near_pairs

    spark = _spark("stress-simhash")
    big = _resampled_docs(spark, n_docs)
    n = big.count()
    t0 = time.time()
    pairs = simhash_near_pairs(big).count()
    dt = time.time() - t0
    spark.stop()
    return {"stress": "simhash", "docs": n, "pairs": pairs, "seconds": round(dt, 1)}


def stress_embpairs(n_vecs: int = 100_000) -> dict:
    """Synthetic 64-dim vectors through the distributed embedding-pairs path
    (IVF cluster-pair blocks + tiled BLAS) — the shape the r1 driver-matrix
    design could not run at all. Operating point (round-4 fix): noise 0.35 /
    threshold 0.96 gives a realistic near-dup rate (~47k output pairs at
    100k vectors, 14 s) so the probe measures the PRUNED scoring of ~78M
    intra-cluster candidates; the old 0.2/0.92 point passed nearly every
    intra-cluster pair (>500M output rows at 100k — quadratic output
    materialization, which is a property of the ASKED question, not of the
    search plan)."""
    from pyspark.sql import functions as F

    from oaim_sandbox_spark.queries import _embedding_pairs_core

    spark = _spark("stress-embpairs")
    vecs = (
        spark.range(n_vecs)
        .withColumnRenamed("id", "vec_id")
        .withColumn(
            "embedding",
            F.expr(
                "transform(sequence(0, 63), i -> "
                "sin((vec_id % 64) * 2.399963 + i * 0.712) "
                "+ 0.35 * (cast(hash(vec_id, i) as double) / 2147483647.0))"
            ),
        )
        .localCheckpoint()
    )
    t0 = time.time()
    pairs = _embedding_pairs_core(spark, vecs, threshold=0.96).count()
    dt = time.time() - t0
    spark.stop()
    return {"stress": "embedding_pairs", "vectors": n_vecs, "pairs": pairs, "seconds": round(dt, 1)}


def _planted_vecs(spark, n_vecs: int):
    from pyspark.sql import functions as F

    return (
        spark.range(n_vecs)
        .withColumnRenamed("id", "vec_id")
        .withColumn(
            "embedding",
            F.expr(
                "transform(sequence(0, 63), i -> "
                "sin((vec_id % 64) * 2.399963 + i * 0.712) "
                "+ 0.2 * (cast(hash(vec_id, i) as double) / 2147483647.0))"
            ),
        )
        .localCheckpoint()
    )


def stress_pca(n_vecs: int = 500_000) -> dict:
    """One-pass distributed PCA fit + full projection over synthetic 64-dim
    vectors: driver traffic is #Arrow-batches x dim² regardless of n, so
    this probe demonstrates the fit cost growing only with scan time."""
    from oaim_sandbox_spark.operators.dim_reduce import fit_pca, project_pca

    spark = _spark("stress-pca")
    vecs = _planted_vecs(spark, n_vecs)
    t0 = time.time()
    model = fit_pca(vecs, n_components=16)
    fit_s = time.time() - t0
    t0 = time.time()
    n = project_pca(vecs, model).count()
    proj_s = time.time() - t0
    spark.stop()
    return {
        "stress": "pca_fit_project",
        "vectors": n,
        "evr16": round(float(model.explained_variance_ratio.sum()), 4),
        "fit_seconds": round(fit_s, 1),
        "project_seconds": round(proj_s, 1),
    }


def stress_semdedup(n_vecs: int = 50_000, n_clusters: int = 64) -> dict:
    """Distributed SemDeDup end to end (pair machinery -> connected
    components -> first-wins keep) at ~25-50x the bench store size.

    Centroids are hash-derived (near-orthogonal in 64-dim: cross-cluster
    cosine ~ N(0, 1/8)), so the expected outcome is exactly n_clusters
    components — unlike the sinusoid-phase generator, whose centroid chain
    is transitively connected at high thresholds (every vector collapses to
    ONE component; correct closure, useless as a probe)."""
    from pyspark.sql import functions as F

    from oaim_sandbox_spark.operators.dedup import semantic_dedup

    spark = _spark("stress-semdedup")
    vecs = (
        spark.range(n_vecs)
        .withColumnRenamed("id", "vec_id")
        .withColumn(
            "embedding",
            F.expr(
                "transform(sequence(0, 63), i -> "
                f"(cast(hash(vec_id % {n_clusters}, i) as double) / 2147483647.0) "
                "+ 0.1 * (cast(hash(vec_id, i, 7) as double) / 2147483647.0))"
            ),
        )
        .localCheckpoint()
    )
    t0 = time.time()
    kept, _labels = semantic_dedup(spark, vecs, threshold=0.9)
    n_kept = kept.count()
    dt = time.time() - t0
    spark.stop()
    return {
        "stress": "semantic_dedup",
        "vectors": n_vecs,
        "kept": n_kept,
        "expected_kept": n_clusters,
        "seconds": round(dt, 1),
    }


def stress_split1m(n_docs: int = 1_000_000) -> dict:
    from oaim_sandbox_spark.operators.dedup import exact_dedup
    from oaim_sandbox_spark.operators.split import split_fixed

    spark = _spark("stress-split1m")
    big = _resampled_docs(spark, n_docs)
    t0 = time.time()
    chunks = split_fixed(big, text_col="text", id_col="doc_id", chunk_size=400, chunk_overlap=0)
    n_chunks = exact_dedup(chunks, text_col="text").count()
    dt = time.time() - t0
    spark.stop()
    return {"stress": "split_dedup_1m", "docs": n_docs, "unique_chunks": n_chunks, "seconds": round(dt, 1)}


def stress_cc(n_docs: int = 200_000) -> dict:
    """Full near-dup canonicalization at scale: simhash pair graph over the
    resampled corpus (worst case: every replica family is a quasi-clique)
    then connected-components min-label propagation. The probe behind the
    'rounds stay single-digit, each round ships only (node,label) int64s'
    claim."""
    from pyspark.sql import functions as F

    from oaim_sandbox_spark.operators.dedup import connected_components, simhash_near_pairs

    spark = _spark("stress-cc")
    big = _resampled_docs(spark, n_docs)
    t0 = time.time()
    pairs = simhash_near_pairs(big, max_hamming=3).localCheckpoint(eager=True)
    n_pairs = pairs.count()
    t1 = time.time()
    labels = connected_components(pairs, big, node_col="doc_id")
    n_clusters = labels.agg(F.countDistinct("cluster_id")).collect()[0][0]
    dt = time.time() - t1
    spark.stop()
    return {
        "stress": "cc_canonicalize", "docs": n_docs, "pairs": n_pairs,
        "clusters": int(n_clusters), "pair_seconds": round(t1 - t0, 1),
        "cc_seconds": round(dt, 1),
    }


def stress_classifier(n_docs: int = 200_000, iters: int = 5) -> dict:
    """In-engine logistic training at scale: hashed features over the
    resampled corpus, planted hash labels, fixed GD iterations. The probe
    behind 'per iteration = one broadcast join + two grouped aggs; driver
    traffic is model-sized'."""
    from pyspark.sql import functions as F

    from oaim_sandbox_spark.operators.classifier import fit_logistic, hashed_token_features

    spark = _spark("stress-classifier")
    big = _resampled_docs(spark, n_docs)
    feat = hashed_token_features(big, dim=1024, normalize=True).localCheckpoint(eager=True)
    n_feat = feat.count()
    # learnable planted target (token presence), not hash noise — the probe
    # should show the loss moving, not just measure agg throughput
    labels = big.select(F.col("doc_id").alias("id"), F.col("text").contains("vector").cast("int").alias("y"))
    t0 = time.time()
    model = fit_logistic(spark, feat, labels, dim=1024, iters=iters, lr=0.5)
    dt = time.time() - t0
    spark.stop()
    return {
        "stress": "classifier_train", "docs": n_docs, "feature_rows": n_feat,
        "iters": iters, "seconds": round(dt, 1),
        "sec_per_iter": round(dt / iters, 2),
        "loss_first_last": [round(model.loss_history[0], 4), round(model.loss_history[-1], 4)],
    }


def stress_spans(n_docs: int = 100_000) -> dict:
    """Exact repeated-span profile at scale (the heaviest text op: positioned
    char-gram explode = corpus chars as rows)."""
    from oaim_sandbox_spark import queries as Q
    from oaim_sandbox_spark.cte_materialize import run_sql_materialized

    spark = _spark("stress-spans")
    big = _resampled_docs(spark, n_docs)
    big.createOrReplaceTempView("stress_docs_v")
    spark.sql(
        "SELECT doc_id, text, length(text) AS n_chars FROM stress_docs_v"
    ).createOrReplaceTempView("documents")
    t0 = time.time()
    n = run_sql_materialized(
        spark, Q.TEMPLATES["repeated_span_stats"]("spark"),
        once=Q.COMPUTE_ONCE["repeated_span_stats"],
    ).count()
    dt = time.time() - t0
    spark.stop()
    return {"stress": "repeated_spans", "docs": n_docs, "flagged_docs": n, "seconds": round(dt, 1)}


def stress_colbert(n_docs: int = 50_000, tokens_per_doc: int = 12, n_queries: int = 8) -> dict:
    """Late-interaction MaxSim at scale: n_docs x tokens_per_doc token
    vectors (the stored multi-vector index) scored against a query batch —
    per-(doc, qtok) MAX then per-doc SUM, the same two grouped aggs as
    `colbert_maxsim_topk`. The probe behind 'the doc-token relation is the
    stored index; the cross join is bounded by query tokens'."""
    from pyspark.sql import functions as F

    spark = _spark("stress-colbert")
    dim = 16
    dtok = (
        spark.range(n_docs * tokens_per_doc)
        .select(
            (F.col("id") / tokens_per_doc).cast("long").alias("doc_id"),
            F.expr(
                f"transform(sequence(0, {dim - 1}), i -> "
                "sin((id % 997) * 0.7 + i * 1.3) + 0.1 * (cast(hash(id, i) as double) / 2147483647.0))"
            ).alias("dv"),
        )
        .localCheckpoint()
    )
    qtok = (
        spark.range(n_queries * 4)
        .select(
            (F.col("id") / 4).cast("long").alias("query_id"),
            F.expr(
                f"transform(sequence(0, {dim - 1}), i -> "
                "sin((id % 997) * 0.7 + i * 1.3))"
            ).alias("qv"),
        )
        .localCheckpoint()
    )
    dotp = ("aggregate(zip_with(dv, qv, (x, y) -> x * y), cast(0 as double), (s, x) -> s + x)")
    t0 = time.time()
    n = (
        dtok.crossJoin(F.broadcast(qtok))
        .groupBy("doc_id", "query_id")
        .agg(F.max(F.expr(dotp)).alias("best"))
        .groupBy("query_id")
        .agg(F.count("*"))
        .count()
    )
    dt = time.time() - t0
    spark.stop()
    return {
        "stress": "colbert_maxsim", "doc_tokens": n_docs * tokens_per_doc,
        "queries": n, "dot_products": n_docs * tokens_per_doc * n_queries * 4,
        "seconds": round(dt, 1),
    }



def stress_ntile(n_docs: int = 2_000_000) -> dict:
    """Round-4 two-pass distributed NTILE at 20x sf0.1: the rewrite must
    keep every corpus-sized operator partitioned (no single-partition
    WindowExec over n_docs rows) and stay linear-ish in wall time. Bucket
    sizes are asserted exact: first n%10 buckets get one extra row."""
    from pyspark.sql import functions as F

    spark = _spark("stress-ntile")
    docs = (
        spark.range(n_docs)
        .select(F.col("id").alias("doc_id"), (F.hash("id") % 5000 + 5000).alias("n_chars"))
        .repartition(64)
        .localCheckpoint()
    )
    docs.createOrReplaceTempView("documents")
    from oaim_sandbox_spark import queries as Q

    t0 = time.time()
    rows = spark.sql(Q.TEMPLATES["ntile_curriculum_buckets"]("spark")).collect()
    dt = time.time() - t0
    sizes = [r["n_docs"] for r in sorted(rows, key=lambda r: r["bucket"])]
    q, r = divmod(n_docs, 10)
    assert sizes == [q + 1] * r + [q] * (10 - r), sizes
    plan = spark.sql(Q.TEMPLATES["ntile_curriculum_buckets"]("spark"))._jdf.queryExecution().executedPlan().toString()
    assert "ntile(" not in plan
    return {"stress": "ntile_two_pass", "docs": n_docs, "buckets": len(rows), "seconds": round(dt, 1)}


def stress_curriculum_approx(n_docs: int = 2_000_000) -> dict:
    """Round-5 continuous-key curriculum at 20x sf0.1: the sketch path must
    hold its contract at scale — one approx_percentile agg, broadcast cut
    assignment, windows only over the 10-row bucket dim. Asserts every
    share_within/cum_rank_within boolean TRUE on 2M synthetic docs with a
    continuous chars-per-word score, and that the only unpartitioned window
    in the plan is the bucket-dim prefix sum."""
    from pyspark.sql import functions as F

    spark = _spark("stress-curriculum")
    docs = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            # text whose words/chars ratio varies continuously with id
            F.expr("repeat(concat(repeat('a', cast(id % 23 as int) + 2), ' '), "
                   "cast(id % 37 as int) + 3)").alias("text"),
        )
        .withColumn("n_chars", F.length("text"))
        .repartition(64)
        .localCheckpoint()
    )
    docs.createOrReplaceTempView("documents")
    from oaim_sandbox_spark import queries as Q

    t0 = time.time()
    rows = spark.sql(Q.TEMPLATES["curriculum_buckets_approx"]("spark")).collect()
    dt = time.time() - t0
    assert len(rows) == 10, rows
    assert all(r["share_within"] and r["cum_rank_within"] for r in rows), rows
    plan = (
        spark.sql(Q.TEMPLATES["curriculum_buckets_approx"]("spark"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re as _re

    unpart = [
        ln for ln in plan.splitlines()
        if "windowspecdefinition" in ln and _re.search(r"\], \[[^\]]*(ASC|DESC)", ln)
        and ln.count("], [") == 1
    ]
    for ln in unpart:  # every unpartitioned window is the bucket-dim prefix sum
        assert "sum(cnt" in ln, ln.strip()[:160]
    return {"stress": "curriculum_approx", "docs": n_docs, "buckets": len(rows),
            "seconds": round(dt, 1)}


def stress_binaryquant(n_vecs: int = 1_000_000, n_queries: int = 16) -> dict:
    """Binary-quantization search at 1M vectors: pack 64-dim signs into two
    int64 words (16 MB total vs 256 MB float32), batch Hamming top-200 per
    query via one partitioned-window scan, exact cosine re-rank. The packed
    relation is what a 100 TB deployment materializes; the probe measures
    the scan-bound search cost after packing."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from oaim_sandbox_spark.functions import portable as P

    spark = _spark("stress-binaryquant")
    vecs = _planted_vecs(spark, n_vecs)
    packed = (
        vecs.select(
            "vec_id",
            F.expr(P.sign_pack("embedding", 1, 32, "spark")).alias("w1"),
            F.expr(P.sign_pack("embedding", 33, 32, "spark")).alias("w2"),
        )
        .repartition(64)
        .localCheckpoint()
    )
    qrows = vecs.filter(F.col("vec_id") < n_queries).select("vec_id", "embedding").collect()
    qdf = spark.createDataFrame(
        [
            (int(r["vec_id"]),
             sum(1 << j for j in range(32) if r["embedding"][j] > 0),
             sum(1 << j for j in range(32) if r["embedding"][32 + j] > 0))
            for r in qrows
        ],
        "query_id BIGINT, u1 BIGINT, u2 BIGINT",
    )
    t0 = time.time()
    w = Window.partitionBy("query_id").orderBy(F.col("hamming").asc(), F.col("vec_id").asc())
    cand = (
        packed.crossJoin(F.broadcast(qdf))
        .withColumn("hamming", F.expr("bit_count(w1 ^ u1) + bit_count(w2 ^ u2)"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 200)
    )
    n = cand.count()
    dt = time.time() - t0
    assert n == n_queries * 200
    return {
        "stress": "binary_quant_search", "vectors": n_vecs, "queries": n_queries,
        "hamming_distances": n_vecs * n_queries, "seconds": round(dt, 1),
    }


def stress_tfidf(n_docs: int = 50_000) -> dict:
    """tfidf_cosine_pairs worst case: sf0.1 resampled to n_docs is EXTREME
    duplication (every replica shares every trigram), so each term's df
    multiplies by the replication factor and the postings self-join cost
    (sum of df^2) grows by its square — at 50k docs (10x) that is ~100x the
    sf0.1 join volume, all flowing through one partial-aggregated hash
    join. Records the pair-output size too: the replicas themselves are the
    true near-dup pairs the query exists to find. Past this shape the
    documented lever is DIMSUM sampling, not a bigger cluster."""
    from oaim_sandbox_spark import queries as Q
    from oaim_sandbox_spark.cte_materialize import run_sql_materialized

    spark = _spark("stress-tfidf")
    big = _resampled_docs(spark, n_docs)
    n = big.count()
    big.createOrReplaceTempView("documents")
    t0 = time.time()
    out = run_sql_materialized(
        spark, Q.TEMPLATES["tfidf_cosine_pairs"]("spark"),
        once=Q.COMPUTE_ONCE["tfidf_cosine_pairs"],
    )
    n_pairs = out.count()
    wall = round(time.time() - t0, 1)
    spark.catalog.dropTempView("documents")
    return {"probe": "tfidf", "n_docs": n, "n_pairs": n_pairs, "wall_s": wall}


def stress_sampled_cosine(n_docs: int = 50_000) -> dict:
    """The DIMSUM est-branch operator on the SAME resampled corpus as
    stress_tfidf — the linear-vs-quadratic separation figure. Extreme
    duplication multiplies every df by the replication factor, which is
    exactly where sum(df^2) explodes and C * n_terms does not: the exact
    probe's join volume grows ~100x from sf0.1 to 50k docs, the sampled
    operator's stays ~flat (p_t = C/df_t shrinks as df grows, keeping
    expected kept-postings per term at C). Compare wall_s against
    stress_tfidf at the same n_docs."""
    from oaim_sandbox_spark.operators.text_analysis import sampled_cosine_pairs

    spark = _spark("stress-sampled-cosine")
    big = _resampled_docs(spark, n_docs)
    n = big.count()
    t0 = time.time()
    out = sampled_cosine_pairs(big, text_col="text", id_col="doc_id")
    n_pairs = out.count()
    wall = round(time.time() - t0, 1)
    return {"probe": "sampled_cosine", "n_docs": n, "n_pairs": n_pairs, "wall_s": wall}


def stress_tierguard(n_vecs: int = 1_000_000) -> dict:
    """Probe-cost boundedness of the recall-floor guard at store scale:
    recommend_tiers on a 1M-vector planted store (500x the test-suite
    store) — measured 18.9s vs ~10-17s small-store (the only store-sized
    work is the one thinning scan + count). NOTE the verdicts here are
    the guard's documented CONSERVATIVE regime, not a bug: cluster size
    is 50 while the thinning factor is 1M/20k = 50, so ~1 vector per
    cluster survives and the coarse tiers are (fail-safe) refused; with
    cluster size 1000 the same probe reads honest ok/widened verdicts in
    19.6s — see the thinning caveat in tier_guard's module docstring."""
    from pyspark.sql import functions as F

    from oaim_sandbox_spark.operators.tier_guard import recommend_tiers

    spark = _spark("stress-tierguard")
    n_clusters = max(32, n_vecs // 50)
    centroid = f"3.0 * sin((vec_id % {n_clusters}) * 2.399963 + i * 0.712)"
    noise = "0.35 * (cast(hash(vec_id, i) as double) / 2147483647.0)"
    store = (
        spark.range(n_vecs).withColumnRenamed("id", "vec_id")
        .withColumn("embedding", F.expr(f"transform(sequence(0, 63), i -> {centroid} + {noise})"))
        .repartition(64).localCheckpoint()
    )
    t0 = time.time()
    v = recommend_tiers(store, tiers=["matryoshka16_rerank", "binary_hamming_rerank", "ivf", "int8"])
    wall = round(time.time() - t0, 1)
    return {"probe": "tierguard", "n_vecs": n_vecs, "wall_s": wall,
            "verdicts": {t: d["status"] for t, d in v.items()}}


def stress_novelty(n_docs: int = 500_000) -> dict:
    """ngram_novelty_decay at 500k docs (resampled corpus, 8 pseudo-sources):
    exercises the (source, shingle) min-agg shuffle — the operator's only
    corpus-sized exchange — at 100x the certification SF. The resampled
    corpus duplicates texts, so novelty collapses after the first buckets
    (exactly the saturated-source signal the operator exists to surface)."""
    import time

    from pyspark.sql import functions as F

    from oaim_sandbox_spark.queries import TEMPLATES

    spark = _spark("stress-novelty")
    big = _resampled_docs(spark, n_docs).withColumn(
        "source", F.concat(F.lit("src"), (F.col("doc_id") % 8).cast("string"))
    )
    big.createOrReplaceTempView("documents")
    t0 = time.time()
    rows = spark.sql(TEMPLATES["ngram_novelty_decay"]("spark")).collect()
    secs = round(time.time() - t0, 1)
    head = {(r["source"], r["bucket"]): r["novelty_frac"] for r in rows
            if r["source"] == "src0" and r["bucket"] <= 2}
    return {"n_docs": n_docs, "rows": len(rows), "secs": secs,
            "src0_first_buckets": {f"b{k[1]}": v for k, v in sorted(head.items())}}


def stress_gini(n_docs: int = 2_000_000) -> dict:
    """token_gini_by_source at 2M docs: validates the design claim that the
    Gini window runs over distinct token-count VALUES, not docs — reports
    the grouped cardinality the window actually sorted alongside wall
    time. At 2M docs the per-source window partitions stay in the
    hundreds of rows (bounded by max doc length), which is the whole
    100 TB argument."""
    import time

    from pyspark.sql import functions as F

    from oaim_sandbox_spark.operators.text_analysis import token_counts_sql
    from oaim_sandbox_spark.queries import TEMPLATES

    spark = _spark("stress-gini")
    big = _resampled_docs(spark, n_docs).withColumn(
        "source", F.concat(F.lit("src"), (F.col("doc_id") % 8).cast("string"))
    )
    big.createOrReplaceTempView("documents")
    toks = token_counts_sql("text", "spark")["ws_tokens"]
    groups = spark.sql(
        f"SELECT COUNT(*) AS g FROM (SELECT source, {toks} AS v, COUNT(*) AS f "
        "FROM documents GROUP BY source, v) t"
    ).first()["g"]
    t0 = time.time()
    rows = spark.sql(TEMPLATES["token_gini_by_source"]("spark")).collect()
    secs = round(time.time() - t0, 1)
    return {"n_docs": n_docs, "window_groups_total": int(groups),
            "rows": len(rows), "secs": secs,
            "gini_src0": next(r["gini"] for r in rows if r["source"] == "src0")}


def stress_consensus_funnel(n_vecs: int = 1_000_000, n_queries: int = 512) -> dict:
    """The 100 TB path for knn_label_consensus: per-batch consensus through
    the IVF funnel (search_batch over a partitioned store) instead of the
    oracle's O(n^2) self-join — a 512-query batch against 1M labeled
    vectors, one pruned scan per batch, linear in batches. Reports batch
    wall time and the mean same-label consensus of the batch (planted
    labels = cluster ids, so consensus should be high)."""
    import tempfile
    import time

    from pyspark.sql import functions as F

    from oaim_sandbox_spark.operators.ann import IVFIndex

    spark = _spark("stress-consensus")
    store = _planted_vecs(spark, n_vecs).withColumn(
        "label", (F.col("vec_id") % 64).cast("int")
    ).localCheckpoint()
    idx = IVFIndex(n_centroids=64, seed=42, max_iter=5).fit(store, sample_fraction=0.05)
    path = tempfile.mkdtemp(prefix="stress_consensus_")
    idx.write_partitioned(store, path, compact=True)
    qdf = store.filter(F.col("vec_id") % (n_vecs // n_queries) == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.expr("cast(embedding as array<double>)").alias("query_vec"),
    )
    t0 = time.time()
    hits = idx.search_batch(
        spark, path, qdf, k=6, nprobe=4, pair_where="vec_id <> query_id",
    )
    cons = (
        hits.join(store.select("vec_id", F.col("label").alias("nlabel")), "vec_id")
        .join(F.broadcast(qdf.select("query_id", "qlabel")), "query_id")
        .groupBy("query_id", "qlabel")
        .agg(F.avg((F.col("nlabel") == F.col("qlabel")).cast("double")).alias("consensus"))
        .agg(F.count("*").alias("n"), F.round(F.avg("consensus"), 4).alias("mean_consensus"))
        .first()
    )
    secs = round(time.time() - t0, 1)
    return {"n_vecs": n_vecs, "n_queries": int(cons["n"]), "secs": secs,
            "mean_consensus": float(cons["mean_consensus"])}


def stress_survivorship(n_docs: int = 200_000) -> dict:
    """The r9 dedup-attribution rollups at the extreme-duplication shape:
    200k resampled docs (every replica collides in every band) bucketed
    into 16 pseudo-sources, ONE materialized signature relation feeding
    the survivorship matrix AND the stage-overlap audit — the shared-sig
    pattern the registry overrides use, measured at 40x the sf0.1 corpus."""
    from pyspark.sql import functions as F

    from oaim_sandbox_spark.queries_dedup import _minhash_sigs_sql
    from oaim_sandbox_spark.queries_extended import (
        _dedup_stage_overlap_body,
        _dedup_survivorship_body,
    )

    spark = _spark("stress-survivorship")
    big = _resampled_docs(spark, n_docs).withColumn(
        "source", F.concat(F.lit("s"), (F.col("doc_id") % 16).cast("string"))
    ).withColumn("n_chars", F.length("text"))
    big.createOrReplaceTempView("documents")
    t0 = time.time()
    sigs = spark.sql(_minhash_sigs_sql("spark")).localCheckpoint()
    sigs.createOrReplaceTempView("stress_sigs")
    t_sig = time.time() - t0
    t0 = time.time()
    cells = spark.sql(_dedup_survivorship_body("spark", rel="stress_sigs")).collect()
    t_surv = time.time() - t0
    t0 = time.time()
    overlap = spark.sql(_dedup_stage_overlap_body("spark", rel="stress_sigs")).collect()
    t_ovl = time.time() - t0
    n_pairs = sum(r["n_pairs"] for r in cells)
    spark.stop()
    return {
        "stress": "survivorship", "docs": n_docs, "matrix_cells": len(cells),
        "strong_pairs": n_pairs, "overlap_rows": len(overlap),
        "sig_seconds": round(t_sig, 1), "survivorship_seconds": round(t_surv, 1),
        "overlap_seconds": round(t_ovl, 1),
    }


def stress_r10audits(n_docs: int = 500_000) -> dict:
    """The round-10 audit family at 100x the sf0.1 corpus: 500k docs in 16
    pseudo-sources through (a) the Heaps cumulative vocab curve (token
    explode -> first-occurrence -> per-source windows -> moment fit), (b)
    the source cross-entropy matrix (ONE materialized count relation, token
    self-join, 256 pairs), (c) the dedup ingest-order state curve (hash
    first-occurrence window + range deciles), and (d) the key-skew audit
    over a 3M-row synthetic hot-key column (top1 ~ 25%) — the shapes whose
    cost grows with the corpus, timed individually."""
    from pyspark.sql import functions as F

    from oaim_sandbox_spark.queries_extended import (
        _heaps_cum_sql,
        _heaps_fit_body,
        _source_crossentropy_body,
        _source_token_counts_sql,
        dedup_ingest_order_curve,
    )

    spark = _spark("stress-r10audits")
    big = _resampled_docs(spark, n_docs).withColumn(
        "source", F.concat(F.lit("s"), (F.col("doc_id") % 16).cast("string"))
    )
    big.createOrReplaceTempView("documents")
    t0 = time.time()
    cum = spark.sql(_heaps_cum_sql("spark")).localCheckpoint()
    cum.createOrReplaceTempView("stress_heaps_cum")
    heaps = spark.sql("WITH " + _heaps_fit_body("spark", cum_rel="stress_heaps_cum")).collect()
    t_heaps = time.time() - t0
    t0 = time.time()
    sc = spark.sql(_source_token_counts_sql("spark")).localCheckpoint()
    sc.createOrReplaceTempView("stress_ce_sc")
    ce = spark.sql("WITH " + _source_crossentropy_body("spark", sc_rel="stress_ce_sc")).collect()
    t_ce = time.time() - t0
    t0 = time.time()
    curve = spark.sql(dedup_ingest_order_curve("spark")).collect()
    t_curve = time.time() - t0
    # synthetic skewed key: 25% of rows on one key, the rest uniform
    skew = spark.range(3_000_000).select(
        F.when(F.col("id") % 4 == 0, F.lit(7)).otherwise(F.col("id") % 50_000)
        .cast("bigint").alias("k")
    )
    skew.createOrReplaceTempView("stress_skew")
    t0 = time.time()
    prof = spark.sql("""
WITH c AS (SELECT k, COUNT(*) AS c FROM stress_skew GROUP BY k),
r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, k ASC) AS rnk FROM c)
SELECT CAST(SUM(c) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(round(CAST(MAX(CASE WHEN rnk = 1 THEN c ELSE 0 END) AS DOUBLE)
                  / SUM(c), 6) AS DOUBLE) AS top1_share,
       CAST(round(SUM(CAST(c AS DOUBLE) * c)
                  / (CAST(SUM(c) AS DOUBLE) * SUM(c)), 6) AS DOUBLE) AS herfindahl
FROM r""").collect()[0]
    t_skew = time.time() - t0
    spark.stop()
    return {
        "stress": "r10audits", "docs": n_docs,
        "heaps_rows": len(heaps), "heaps_seconds": round(t_heaps, 1),
        "ce_pairs": len(ce), "ce_seconds": round(t_ce, 1),
        "curve_rows": len(curve), "curve_seconds": round(t_curve, 1),
        "skew_rows": int(prof["n_rows"]), "skew_top1": float(prof["top1_share"]),
        "skew_herfindahl": float(prof["herfindahl"]),
        "skew_seconds": round(t_skew, 1),
    }


def stress_r11audits(n_docs: int = 500_000, n_vecs: int = 30_000) -> dict:
    """The round-11 audit family at ~100x the sf0.1 corpus: 500k docs in 16
    pseudo-sources through (a) distinct-n-gram diversity (two explodes +
    two-level distinct agg), (b) hapax/TTR (one explode + counts), (c) the
    Burrows-Delta stylometry matrix (ONE materialized count relation, 120
    pairs), (d) top-vocab turnover by decile (materialized top-100
    relation); plus (e) the embedding effective-rank moments at 30k
    synthetic 64-dim vectors (dim^2 explode = 123M cells, the entry's
    actual scale shape). Timed individually."""
    from pyspark.sql import functions as F

    from oaim_sandbox_spark.queries_extended import (
        _stylometry_body,
        _stylometry_sc_sql,
        _vocab_top_sql,
        _vocab_turnover_body,
        distinct_ngram_diversity,
        embedding_effective_rank,
        hapax_ttr_by_source,
    )

    spark = _spark("stress-r11audits")
    big = _resampled_docs(spark, n_docs).withColumn(
        "source", F.concat(F.lit("s"), (F.col("doc_id") % 16).cast("string"))
    )
    big.createOrReplaceTempView("documents")
    t0 = time.time()
    div = spark.sql(distinct_ngram_diversity("spark")).collect()
    t_div = time.time() - t0
    t0 = time.time()
    hap = spark.sql(hapax_ttr_by_source("spark")).collect()
    t_hap = time.time() - t0
    t0 = time.time()
    sc = spark.sql(_stylometry_sc_sql("spark")).localCheckpoint()
    sc.createOrReplaceTempView("stress_stylo_sc")
    sty = spark.sql("WITH " + _stylometry_body("spark", sc_rel="stress_stylo_sc")).collect()
    t_sty = time.time() - t0
    t0 = time.time()
    top = spark.sql(_vocab_top_sql("spark")).localCheckpoint()
    top.createOrReplaceTempView("stress_vturn_top")
    vt = spark.sql("WITH " + _vocab_turnover_body("spark", top_rel="stress_vturn_top")).collect()
    t_vt = time.time() - t0
    # synthetic anisotropic embeddings: label-striped, dim-0 dominant
    emb = spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), i -> CASE WHEN i = 0 THEN "
            "3.0 * sin(cast(id as double) * 0.37) ELSE "
            "0.1 * (cast(hash(id, i) as double) / 2147483647.0) END)"
        ).alias("embedding"),
        (F.col("id") % 10).cast("int").alias("label"),
    ).localCheckpoint()
    emb.createOrReplaceTempView("embeddings")
    t0 = time.time()
    er = spark.sql(embedding_effective_rank("spark")).collect()
    t_er = time.time() - t0
    spark.stop()
    return {
        "stress": "r11audits", "docs": n_docs, "vecs": n_vecs,
        "diversity_rows": len(div), "diversity_seconds": round(t_div, 1),
        "hapax_rows": len(hap), "hapax_seconds": round(t_hap, 1),
        "stylometry_pairs": len(sty), "stylometry_seconds": round(t_sty, 1),
        "turnover_rows": len(vt), "turnover_seconds": round(t_vt, 1),
        "effrank_rows": len(er),
        "effrank_min": min(float(r["effective_rank"]) for r in er),
        "effrank_seconds": round(t_er, 1),
    }


def stress_assort(n_docs: int = 200_000) -> dict:
    """dup_graph_assortativity at the extreme-duplication shape: 200k
    resampled docs (every replica collides in every band) through the
    shared minhash signatures -> banded edges -> both-orientation degree
    moments. The edge relation is the heavy intermediate; the moment fit is
    one scalar agg. Timed per stage like the survivorship probe."""
    from oaim_sandbox_spark.queries_dedup import _minhash_sigs_sql
    from oaim_sandbox_spark.queries_extended import (_assort_body,
                                                     _assort_edges_sql)

    spark = _spark("stress-assort")
    big = _resampled_docs(spark, n_docs)
    big.createOrReplaceTempView("documents")
    t0 = time.time()
    sigs = spark.sql(_minhash_sigs_sql("spark")).localCheckpoint()
    sigs.createOrReplaceTempView("stress_assort_sigs")
    t_sig = time.time() - t0
    t0 = time.time()
    edges = spark.sql(_assort_edges_sql("spark", "stress_assort_sigs")).localCheckpoint()
    edges.createOrReplaceTempView("stress_assort_edges")
    n_edges = edges.count()
    t_edges = time.time() - t0
    t0 = time.time()
    row = spark.sql(
        "WITH " + _assort_body("spark", rel="stress_assort_edges").lstrip()
    ).collect()[0]
    t_fit = time.time() - t0
    spark.stop()
    return {
        "stress": "assortativity", "docs": n_docs, "edges": n_edges,
        "n_nodes": int(row["n_nodes"]), "assortativity": row["assortativity"],
        "sig_seconds": round(t_sig, 1), "edge_seconds": round(t_edges, 1),
        "fit_seconds": round(t_fit, 1),
    }


def stress_abc(factor: int = 20) -> dict:
    """abc_revenue_classes at ~factor x the sf0.1 lineitem (partkeys
    remapped so the per-part dim scales too): the bucketed Pareto
    cumulative must hold its no-global-sort property — the only
    unpartitioned window stays the 1024-row bucket dim regardless of
    corpus size."""
    from pyspark.sql import functions as F

    from oaim_sandbox_spark.queries_extended import _abc_body, _abc_pr_sql

    spark = _spark("stress-abc")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_partkey", "l_extendedprice", "l_discount")
    big = (
        li.crossJoin(spark.range(factor).withColumnRenamed("id", "rep"))
        .select(
            (F.col("l_partkey") * factor + F.col("rep")).alias("l_partkey"),
            "l_extendedprice", "l_discount")
        .repartition(64).localCheckpoint()
    )
    n = big.count()
    big.createOrReplaceTempView("lineitem")
    t0 = time.time()
    pr = spark.sql(_abc_pr_sql("spark")).localCheckpoint()
    pr.createOrReplaceTempView("stress_abc_pr")
    n_parts = pr.count()
    t_pr = time.time() - t0
    t0 = time.time()
    rows = spark.sql(
        "WITH " + _abc_body("spark", rel="stress_abc_pr").lstrip()
    ).collect()
    t_abc = time.time() - t0
    spark.stop()
    share_a = next(float(r["revenue_share"]) for r in rows if r["abc_class"] == "A")
    return {
        "stress": "abc_classes", "lineitems": n, "parts": n_parts,
        "class_rows": len(rows), "share_A": round(share_a, 4),
        "rev_seconds": round(t_pr, 1), "classify_seconds": round(t_abc, 1),
    }


def stress_allpairs(n_vecs: int = 20_000) -> dict:
    """knn_label_consensus's exact all-pairs self-join at 10x the sf0.1
    embeddings rows — which is 100x the PAIR count (~400M ordered pairs),
    the scale where the per-pair dot fold (r13 prenorm: ONE fold per pair)
    rather than the per-query fixed floor is the cost. The r14 scaling
    lane's probe for the all-pairs template family: at sf0.1 the driver's
    8-vs-32-core ratio on this family reads ~1 (floor-bound); here the
    join is genuinely compute-bound, so the ratio shows whether the
    distributed shape actually scales with cores."""
    from pyspark.sql import functions as F

    from oaim_sandbox_spark.queries import TEMPLATES

    spark = _spark("stress-allpairs")
    vecs = _planted_vecs(spark, n_vecs).withColumn(
        "label", (F.col("vec_id") % 10).cast("int")
    ).localCheckpoint()
    vecs.createOrReplaceTempView("embeddings")
    t0 = time.time()
    rows = spark.sql(TEMPLATES["knn_label_consensus"]("spark")).collect()
    dt = time.time() - t0
    spark.catalog.dropTempView("embeddings")
    return {
        "stress": "allpairs_label_consensus", "vectors": n_vecs,
        "ordered_pairs": n_vecs * (n_vecs - 1), "labels": len(rows),
        "seconds": round(dt, 1),
    }


def stress_streaming(factor: int = 50) -> dict:
    """Two streaming entries (stateful running totals + stream-stream
    time-range join) over a factor-x events source (5M rows at 50x): at
    sf0.1 the availableNow floor is query-start machinery (measured r13/
    r14 — state-store and source knobs all inside noise); here the state
    and shuffle work dominates, so the 8-vs-32-core ratio is meaningful.
    The replica events keep the original timestamps (watermark semantics
    unchanged) with user_id/event_id remapped so state cardinality scales
    too."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from pyspark.sql import functions as F

    from oaim_sandbox_spark.queries_registry import (
        _streaming_ss_join_spark,
        _streaming_user_stats_spark,
    )

    spark = _spark("stress-streaming")
    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    big = (
        src.crossJoin(spark.range(factor).withColumnRenamed("id", "rep"))
        .withColumn("event_id", F.col("event_id") * factor + F.col("rep"))
        .withColumn("user_id", F.col("user_id") * factor + F.col("rep"))
        .drop("rep")
    )
    tmp = _tempfile.mkdtemp(prefix="stress_stream_")
    staged = f"{tmp}/_staged"
    big.coalesce(1).write.mode("overwrite").parquet(staged)
    part = _glob.glob(f"{staged}/part-*.parquet")[0]
    _shutil.move(part, f"{tmp}/events.parquet")  # the testdata layout: ONE file
    _shutil.rmtree(staged)
    n = spark.read.parquet(f"{tmp}/events.parquet").count()
    t0 = time.time()
    n_stats = _streaming_user_stats_spark(spark, tmp).count()
    t_stats = time.time() - t0
    t0 = time.time()
    n_join = _streaming_ss_join_spark(spark, tmp).count()
    t_join = time.time() - t0
    _shutil.rmtree(tmp, ignore_errors=True)
    return {
        "stress": "streaming", "events": n,
        "user_stats_rows": n_stats, "user_stats_seconds": round(t_stats, 1),
        "ss_join_rows": n_join, "ss_join_seconds": round(t_join, 1),
        "seconds": round(t_stats + t_join, 1),
    }


def stress_cospair(n_vecs: int = 500_000) -> dict:
    """cosine_pair_histogram's scale dial exercised as documented: at 500k
    vectors the committed 1/61 divisor would yield ~34M pairs, so the
    probe re-derives div ~ n/sqrt(2*budget) for a 2M-pair budget (=250)
    and runs the identical SQL — the 100 TB recipe next to the constant."""
    import math as _math

    from oaim_sandbox_spark import queries_extended as QE

    spark = _spark("stress-cospair")
    vecs = _planted_vecs(spark, n_vecs).withColumnRenamed("id", "vec_id")
    vecs.createOrReplaceTempView("embeddings")
    budget = 2_000_000
    div = max(1, int(_math.ceil(n_vecs / _math.sqrt(2 * budget))))
    old_div = QE.COS_PAIR_DIV
    QE.COS_PAIR_DIV = div
    try:
        t0 = time.time()
        s = spark.sql(QE._cospair_s_sql("spark")).localCheckpoint()
        s.createOrReplaceTempView("stress_cospair_s")
        n_sample = s.count()
        rows = spark.sql(
            "WITH " + QE._cospair_body("spark", rel="stress_cospair_s").lstrip()
        ).collect()
        dt = time.time() - t0
    finally:
        QE.COS_PAIR_DIV = old_div
    n_pairs = sum(int(r["n_pairs"]) for r in rows)
    spark.stop()
    return {
        "stress": "cosine_pair_histogram", "vectors": n_vecs, "divisor": div,
        "sampled": n_sample, "pairs": n_pairs, "bins": len(rows),
        "seconds": round(dt, 1),
    }


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "minhash"
    arg = int(sys.argv[2]) if len(sys.argv) > 2 else None
    fns = {
        "minhash": stress_minhash,
        "simhash": stress_simhash,
        "embpairs": stress_embpairs,
        "split1m": stress_split1m,
        "pca": stress_pca,
        "semdedup": stress_semdedup,
        "cc": stress_cc,
        "classifier": stress_classifier,
        "spans": stress_spans,
        "colbert": stress_colbert,
        "ntile": stress_ntile,
        "curriculum": stress_curriculum_approx,
        "binaryquant": stress_binaryquant,
        "tfidf": stress_tfidf,
        "sampled_cosine": stress_sampled_cosine,
        "tierguard": stress_tierguard,
        "novelty": stress_novelty,
        "gini": stress_gini,
        "r10audits": stress_r10audits,
        "r11audits": stress_r11audits,
        "consensus_funnel": stress_consensus_funnel,
        "allpairs": stress_allpairs,
        "streaming": stress_streaming,
        "survivorship": stress_survivorship,
        "assort": stress_assort,
        "abc": stress_abc,
        "cospair": stress_cospair,
    }
    if cmd not in fns:
        raise SystemExit(f"unknown stress {cmd!r}; one of {sorted(fns)}")
    out = fns[cmd](arg) if arg else fns[cmd]()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
