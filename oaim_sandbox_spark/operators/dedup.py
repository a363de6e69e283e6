"""Deduplication operators — exact and near-dup, designed for 100 TB.

Reference behavior: exact text dedup before embedding, first occurrence wins
(embedding.py:297-304). Beyond that, the LLM-data-pipeline suite: MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup (BASELINE.json north star).

All hot-path math is JVM-side column expressions from functions/portable.py —
no Python UDFs — so every operator here is whole-stage-codegen eligible and
has a DuckDB-expressible oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from oaim_sandbox_spark.functions import portable as P
from oaim_sandbox_spark.materialize import checkpoint, scope


def _spread_for_cpu(df: DataFrame) -> DataFrame:
    """Ensure a CPU-heavy per-row stage (md5 hash pipelines) has at least
    cluster parallelism. AQE coalesces partitions by BYTES, and a few
    thousand curated docs fit one 64 MB target — which then serializes the
    md5-per-shingle work onto one core (measured 6.1 s -> 1.3 s for the LSH
    operator at sf0.1).

    Only NARROW (exchange-free) inputs are probed and spread: a plan that
    already contains an Exchange arrives at spark.sql.shuffle.partitions
    downstream, and — more importantly — calling .rdd on an adaptive plan
    with shuffles would MATERIALIZE those stages eagerly, running the
    upstream work twice. For narrow scan/checkpoint plans, .rdd only builds
    the RDD DAG (no jobs), so the partition probe is free.

    The probe leans on private PySpark internals (``_jdf`` plan strings) —
    version-brittle, and absent entirely under Spark Connect. When any step
    of it fails, degrade to returning the input unchanged: slower (one core
    for the hash stage in the worst case) but always correct, and never
    eagerly materializing a shuffle by probing a plan we couldn't inspect."""
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "Exchange" in plan or "ShuffleQueryStage" in plan:
            return df
        p = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < p:
            return df.repartition(p)
        return df
    except Exception:
        return df


def exact_dedup(df: DataFrame, text_col: str = "text", order_col: str | None = None) -> DataFrame:
    """P7 exact dedup. With order_col: keep the first occurrence (reference
    parity, embedding.py:297-304) via min-over-group; else dropDuplicates.

    100 TB note: group/shuffle on a *hash of the text*, not the text itself —
    shuffling full document bodies as keys would move the whole corpus through
    the shuffle; hashing first keeps keys 8 bytes. Collisions are then broken
    by an exact equality check within group (windowed).
    """
    if order_col is None:
        return df.dropDuplicates([text_col])
    w = Window.partitionBy(F.xxhash64(F.col(text_col)), F.col(text_col)).orderBy(order_col)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", num_perm: int = 16, ngram: int = 3
) -> DataFrame:
    """MinHash signature per doc (array<bigint> of num_perm values) over word
    n-gram shingles. Narrow transformation — no shuffle.

    The md5-shingle array is hoisted into its own projection so the
    num_perm min-passes each scan the PRECOMPUTED hash array;
    P.minhash_signature's single-expression form would textually repeat the
    shingle pipeline num_perm times (measured 32s vs 2s at sf0.1 — Spark
    does no cross-expression CSE, and CollapseProject keeps a multiply-
    referenced non-cheap alias uncollapsed, which is what saves this form)."""
    hs = P.shingle_hashes(text_col, ngram, "spark")
    sig = P.minhash_from_hashes("__hs", num_perm, "spark")
    return _spread_for_cpu(df).select(F.col(id_col), F.expr(hs).alias("__hs")).select(
        F.col(id_col), F.expr(sig).alias("signature")
    )


def minhash_band_keys(
    sig_df: DataFrame, id_col: str = "doc_id", num_perm: int = 16, bands: int = 4
) -> DataFrame:
    """Explode a signature into (band_idx, band_hash) rows — the LSH bucketing
    step. band_hash = portable hash of the band's joined values.

    bands must divide num_perm: bands > num_perm would build an empty
    concat (a ParseException deep in Spark), and a non-divisor silently
    excludes the trailing signature positions from every band — quietly
    changing the 1-(1-s^r)^b candidate-recall curve the caller tuned."""
    if bands <= 0 or bands > num_perm or num_perm % bands != 0:
        raise ValueError(
            f"bands ({bands}) must be a positive divisor of num_perm ({num_perm})"
        )
    rows = num_perm // bands
    band_structs = ", ".join(
        f"struct({b} as band_idx, {P.hash64(_band_concat('signature', b, rows), 'spark')} as band_hash)"
        for b in range(bands)
    )
    return sig_df.select(
        F.col(id_col), F.explode(F.expr(f"array({band_structs})")).alias("b")
    ).select(id_col, F.col("b.band_idx").alias("band_idx"), F.col("b.band_hash").alias("band_hash"))


def _band_concat(sig: str, band: int, rows: int, dialect: str = "spark") -> str:
    """Join one band's signature values into a string (portable both dialects:
    built by the caller with explicit element indexing, 1-based)."""
    start = band * rows + 1
    if dialect == "spark":
        parts = ", ".join(f"element_at({sig}, {start + r})" for r in range(rows))
        return f"concat_ws(',', {parts})"
    parts = " || ',' || ".join(f"({sig})[{start + r}]" for r in range(rows))
    return f"({parts})"


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    ngram: int = 3,
) -> DataFrame:
    """MinHash LSH candidate pairs + estimated Jaccard.

    Plan: signature (narrow) -> band explode (xN) -> shuffle on band_hash ->
    within-bucket self-join -> distinct pairs -> estimate sim as the fraction
    of equal signature positions.

    100 TB note: this is the canonical scale path — candidate generation cost
    is O(sum over buckets of bucket²); with b bands of r rows the collision
    probability is 1-(1-s^r)^b, so tune (b, r) to the target similarity. The
    self-join shuffles only (id, band_hash, signature) — never document text.
    Skewed buckets (boilerplate docs) are handled by AQE skew-join splitting.

    The pair `.distinct()` here deliberately stays (unlike simhash_near_pairs,
    which replaced its with a first-colliding-band filter): that filter needs
    every band key of BOTH sides in the join output, which for minhash means
    carrying all b band hashes through the banded explode — widening the
    bucket shuffle by b*8 bytes per banded row to save a 16-byte-per-pair
    exchange. For simhash the fingerprint already rides along (free); here
    the trade only pays when pairs-per-doc is high, and the distinct input
    is bands-bounded narrow rows, not a corpus-sized relation.
    """
    # materialize the signatures ONCE: they feed both self-join sides and
    # both est-jaccard joins, and Spark re-inlines the md5-shingle pipeline
    # per reference otherwise (~6x the dominant cost; the SQL-registry twin
    # does the same via COMPUTE_ONCE). The checkpointed relation is
    # (id, num_perm int64s) — tiny relative to the text it derives from; the
    # returned frame reads it, so it is handed to the caller.
    sigs = checkpoint(minhash_signatures(df, id_col, text_col, num_perm, ngram))
    banded = minhash_band_keys(sigs, id_col, num_perm, bands)
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("doc_a"), F.col(f"r.{id_col}").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(F.col(id_col).alias("doc_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("doc_b"), F.col("signature").alias("sig_b"))
    return _est_jaccard_join(pairs, sa, sb, "doc_a", "doc_b", num_perm)


def _est_jaccard_join(pairs, sigs_a, sigs_b, a_col: str, b_col: str, num_perm: int):
    """Shared candidate-pair scoring: join both signature sides onto the
    banded candidate pairs and compute the matching-position MinHash
    estimate. One definition so the batch and incremental paths can't
    silently diverge on estimator semantics."""
    est = (
        "cast(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) as double) / "
        f"{num_perm}"
    )
    return (
        pairs.join(sigs_a, a_col).join(sigs_b, b_col)
        .select(a_col, b_col, F.expr(f"round({est}, 6)").alias("est_jaccard"))
    )


def simhash_fingerprints(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 60) -> DataFrame:
    """SimHash fingerprint per doc (int64, <= 60 bits). Narrow, JVM-only.
    Token hashes hoisted into their own projection (same rationale as
    minhash_signatures: keep the md5 pipeline out of the 60-pass bit loop;
    measured 4x at sf0.1)."""
    th = P.token_hashes(text_col, "spark")
    fp = P.simhash_from_hashes("__th", bits, "spark")
    return _spread_for_cpu(df).select(F.col(id_col), F.expr(th).alias("__th")).select(
        F.col(id_col), F.expr(fp).alias("simhash")
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 12,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the fingerprint into `bands` bit-slices;
    by pigeonhole, any pair with hamming < bands must agree on >= 1 slice —
    so the band join is exact for hamming <= bands-1, and a recall-bounded
    prefilter above that. Pairs are then verified hamming <= max_hamming.

    100 TB note: same LSH-shaped plan as minhash_lsh_pairs — shuffle carries
    (id, fingerprint) only.
    """
    fp = simhash_fingerprints(df, id_col, text_col, bits)
    slice_bits = bits // bands
    band_structs = ", ".join(
        f"struct({b} as band_idx, (simhash div cast(pow(2, {b * slice_bits}) as bigint)) % cast(pow(2, {slice_bits}) as bigint) as band_key)"
        for b in range(bands)
    )
    banded = fp.select(
        id_col, "simhash", F.explode(F.expr(f"array({band_structs})")).alias("b")
    ).select(id_col, "simhash", F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key"))
    l, r = banded.alias("l"), banded.alias("r")

    # first-colliding-band filter instead of .distinct(): a pair colliding
    # in k bands surfaces k times from the self-join, and deduplicating via
    # distinct shuffles EVERY candidate pair (the dominant exchange under
    # heavy duplication). Both fingerprints are already in hand, so keep a
    # pair only in the first band where it collides — exactly-once without
    # any exchange (queries._simhash_pairs_body mirrors this in SQL).
    def band_slice(side: str, j: int) -> str:
        return (
            f"({side}.simhash div cast(pow(2, {j * slice_bits}) as bigint))"
            f" % cast(pow(2, {slice_bits}) as bigint)"
        )

    whens = " ".join(
        f"WHEN {b} THEN ("
        + " AND ".join(f"{band_slice('l', j)} <> {band_slice('r', j)}" for j in range(b))
        + ")"
        for b in range(1, bands)
    )
    first_band = f"CASE l.band_idx WHEN 0 THEN TRUE {whens} END"
    return (
        l.join(
            r,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .filter(F.expr(first_band))
        .select(
            F.col(f"l.{id_col}").alias("doc_a"),
            F.col(f"r.{id_col}").alias("doc_b"),
            F.expr("bit_count(l.simhash ^ r.simhash)").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "source",
    ngram: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs within a blocking key.

    Jaccard on DISTINCT shingle hash sets, computed set-theoretically:
    |A∩B| via an equi-join on (block, shingle_hash), |A∪B| = |A|+|B|-|A∩B|.

    100 TB note: exact all-pairs is quadratic — the block_col bounds the
    quadratic term to within-block pairs; for unblocked corpora use
    minhash_lsh_pairs to generate candidates and this only to verify them.
    """
    shingled = df.select(
        F.col(id_col),
        F.col(block_col).alias("_blk"),
        F.explode(F.expr(f"array_distinct(transform({P.word_ngrams(text_col, ngram, 'spark')}, s -> {P.hash64('s', 'spark')}))")).alias("sh"),
    )
    sizes = shingled.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    l, r = shingled.alias("l"), shingled.alias("r")
    inter = (
        l.join(r, (F.col("l._blk") == F.col("r._blk")) & (F.col("l.sh") == F.col("r.sh")) & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .groupBy(F.col(f"l.{id_col}").alias("doc_a"), F.col(f"r.{id_col}").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    na = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(na, "doc_a").join(nb, "doc_b")
        .withColumn("jaccard", F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding near-dup: pairs with cosine similarity >= threshold.

    This is the exact (brute-force) variant — the correctness oracle for any
    approximate path. 100 TB note: all-pairs cosine is O(n²d); at scale,
    bucket by random-hyperplane LSH first (see ann.signed_projection_buckets)
    and run this join within buckets, or use a blocked matrix-multiply via
    Pandas-UDF cross-bucket scoring. Kept exact here because the testdata
    embedding tables are small; the plan broadcasts the smaller side.
    """
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    va = P.to_double_array("v_a", "spark")
    vb = P.to_double_array("v_b", "spark")
    sim = f"round({P.dot(va, vb, 'spark')} / ({P.norm2(va, 'spark')} * {P.norm2(vb, 'spark')}), 6)"
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", F.expr(sim))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    node_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components over a near-dup pair graph by min-label
    propagation: every node starts labeled with itself; each round adopts the
    minimum label among itself and its neighbors; fixpoint in O(component
    diameter) rounds. Returns (node_col, cluster_id).

    This completes corpus-level dedup: pairs (minhash_lsh_pairs /
    simhash_near_pairs) -> clusters -> one canonical doc per cluster
    (min id = first-occurrence-wins, the reference's P7 ordering semantics,
    embedding.py:297-304, lifted from exact texts to near-dup classes).

    100 TB notes: each round is one shuffle of (node, label) int64 pairs on
    the edge key — vectors/texts never move. Near-dup graphs have tiny
    diameters (dup clusters are quasi-cliques), so rounds stay single-digit.
    labels are localCheckpoint'ed every round to truncate lineage (iterative
    plans otherwise grow exponentially in Catalyst). For adversarial
    long-chain graphs swap in large-star/small-star (same shuffle shape,
    O(log n) rounds).

    r13 opt (size-thresholded strategy, the materialize.py philosophy): when
    the symmetrized edge set is BOUNDED (<= DRIVER_CC_MAX_EDGES, a few MB of
    int64 pairs — known exactly from the count the partition sizing already
    pays), the component labels come from one driver-side union-find over
    the collected pairs instead of the iterative loop: ~15 scheduling-bound
    jobs (2 checkpoints + a convergence collect per round) collapse into one
    bounded collect + one broadcast-mapped projection. The output is
    IDENTICAL BY DEFINITION — both algorithms label every node with the
    minimum node id of its component (pinned by tests/test_cc_redact.py's
    A/B). Above the threshold the distributed loop runs unchanged, so the
    driver never holds more than DRIVER_CC_MAX_EDGES pairs.
    """
    # localCheckpoint (not cache): materializes AND truncates lineage, so the
    # per-round task binaries don't drag the upstream pair-generation plan
    # (e.g. a 60-aggregate simhash pipeline) into every stage. The scope
    # frees every checkpoint but the labels the returned frame reads.
    spark = edges.sparkSession
    with scope(spark) as s:
        sym = s.checkpoint(
            edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
            .union(edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
            .distinct()
        )
        # Size-adaptive parallelism: ~2M int64 edge pairs per partition. Tiny
        # test graphs collapse to 1 task/stage (iterations are scheduling-bound);
        # a 10^10-edge graph fans out to thousands of tasks.
        n_edges = sym.count()
        if n_edges <= DRIVER_CC_MAX_EDGES:
            return _cc_driver_union_find(sym, nodes, node_col)
        parts = max(1, min(n_edges // 2_000_000 + 1, 20_000))
        saved_parts = spark.conf.get("spark.sql.shuffle.partitions")
        # Iterative loops materialize each round via localCheckpoint, which
        # bypasses AQE's post-shuffle coalesce — size the shuffle explicitly for
        # the loop's tiny (node,label) frames and restore afterwards. The
        # override is session-wide state: restore in a finally so a mid-loop
        # failure can't leave every later query in the session running on
        # `parts` (possibly 1) shuffle partitions.
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            return _cc_iterate(s, sym.repartition(parts, "dst"), nodes, node_col, parts, max_iter)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", saved_parts)


# bounded-collect ceiling for the driver union-find CC path: 200k symmetric
# int64 pairs ~= 3 MB on the driver, and CPython union-find at this size runs
# in well under a second — far below the crossover where the distributed
# loop's per-round shuffles start paying for themselves
DRIVER_CC_MAX_EDGES = 200_000


def _cc_driver_union_find(sym, nodes, node_col: str):
    """Exact CC labels for a bounded edge set: collect the symmetrized pairs
    (<= DRIVER_CC_MAX_EDGES, enforced by the caller), path-compressed
    union-find on the driver, label every touched node with its component's
    MIN node id, and project the labels back over the full node universe with
    one broadcast-sized map join (nodes absent from every edge label
    themselves — same semantics as the propagation loop's left join)."""
    spark = sym.sparkSession
    rows = sym.collect()
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r[0], r[1]
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    touched = set()
    for r in rows:
        touched.add(r[0])
        touched.add(r[1])
    minrep: dict = {}
    for x in touched:
        root = find(x)
        cur = minrep.get(root)
        if cur is None or x < cur:
            minrep[root] = x
    node_t = nodes.schema[node_col].dataType.simpleString()
    labels = [(x, minrep[find(x)]) for x in touched]
    lmap = spark.createDataFrame(labels or [], f"__cc_node {node_t}, __cc_label {node_t}")
    out = (
        nodes.select(F.col(node_col))
        .join(F.broadcast(lmap), F.col(node_col) == F.col("__cc_node"), "left")
        .select(
            F.col(node_col),
            F.coalesce(F.col("__cc_label"), F.col(node_col)).alias("cluster_id"),
        )
    )
    return out


def _cc_iterate(s, sym, nodes, node_col, parts, max_iter):
    labels = nodes.select(F.col(node_col).alias("node"), F.col(node_col).alias("label"))
    labels = s.checkpoint(labels.repartition(parts, "node"))
    # Monotone convergence metric: labels only ever decrease, so the exact
    # integer sum of labels strictly decreases until fixpoint — one scan of
    # the just-checkpointed frame, no compare join.
    prev_sum = labels.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nb_label"))
        )
        stepped = s.checkpoint(
            labels.join(neighbor_min, labels["node"] == neighbor_min["src"], "left")
            .select(
                F.col("node"),
                F.least(F.col("label"), F.coalesce(F.col("nb_label"), F.col("label"))).alias("label"),
            )
        )
        # Pointer jumping: adopt my label's label (labels are node ids, so the
        # parent row always exists) — contracts label chains exponentially,
        # O(log diameter) rounds instead of O(diameter).
        parent = stepped.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        new_labels = s.checkpoint(
            stepped.join(parent, stepped["label"] == parent["p_node"], "left")
            .select(
                F.col("node"),
                F.least(F.col("label"), F.coalesce(F.col("p_label"), F.col("label"))).alias("label"),
            )
        )
        new_sum = new_labels.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]
        # both eager checkpoints of this round supersede the previous labels
        s.release(stepped)
        s.release(labels)
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return s.keep(labels).select(F.col("node").alias(node_col), F.col("label").alias("cluster_id"))


def incremental_near_dups(
    new_df: DataFrame,
    existing_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    ngram: int = 3,
    existing_signatures: DataFrame | None = None,
    owner=None,
) -> DataFrame:
    """Continuous-ingest near-dup check: ONLY new docs probe the existing
    corpus — a new×existing band join, never existing×existing. Returns
    (new_id, existing_id, est_jaccard). The signature checkpoints belong to
    ``owner`` (a materialize scope whose block consumes the result) when
    given; otherwise they are handed to the caller with the returned frame.

    100 TB note: this is the steady-state dedup path. Pass
    ``existing_signatures`` — the (id, signature) frame persisted beside the
    store (num_perm int64s per doc; plain parquet round trip) — and the
    per-batch cost drops to hashing the NEW docs + one band join: the
    existing corpus TEXT is never re-read, incremental cost proportional to
    the batch, not the corpus. Without it the existing side is re-hashed
    from text each batch (correct, just not steady-state). Composes with
    merge.merge_new_rows: exact dups are anti-joined out by content id
    first, this catches the near misses.
    """
    # same materialize-once rationale as minhash_lsh_pairs: each side feeds
    # a band join AND an est-jaccard join
    ckpt = checkpoint if owner is None else owner.checkpoint
    sig_new = ckpt(minhash_signatures(new_df, id_col, text_col, num_perm, ngram))
    if existing_signatures is not None:
        sig_old = existing_signatures
    else:
        sig_old = ckpt(minhash_signatures(existing_df, id_col, text_col, num_perm, ngram))
    band_new = minhash_band_keys(sig_new, id_col, num_perm, bands).alias("n")
    band_old = minhash_band_keys(sig_old, id_col, num_perm, bands).alias("e")
    pairs = (
        band_new.join(
            band_old,
            (F.col("n.band_idx") == F.col("e.band_idx"))
            & (F.col("n.band_hash") == F.col("e.band_hash")),
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"), F.col(f"e.{id_col}").alias("existing_id")
        )
        .distinct()
    )
    sa = sig_new.select(F.col(id_col).alias("new_id"), F.col("signature").alias("sig_a"))
    sb = sig_old.select(F.col(id_col).alias("existing_id"), F.col("signature").alias("sig_b"))
    return _est_jaccard_join(pairs, sa, sb, "new_id", "existing_id", num_perm)


def semantic_dedup(
    spark,
    df: DataFrame,
    threshold: float = 0.92,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """SemDeDup at production scale (Abbas et al. 2023, arXiv:2303.09540):
    keep one representative of every group of semantically-duplicate rows.

    Pipeline: distributed near-pair generation — the `embedding_cosine_pairs`
    machinery (bounded driver sample fits the coarse quantizer, triangle-
    inequality cluster-pair pruning with zero recall loss, tiled BLAS
    matmuls) — then min-label connected components over the pair graph, then
    lowest-id-wins per component (the reference's P7 first-wins ordering
    semantics applied to semantic duplicates). The `semantic_dedup_clusters`
    registry query is the fixed-centroid oracle for the same keep policy.

    Returns ``(kept, labels)``: `kept` is `df` filtered to the component
    representatives; `labels` is (id_col, cluster_id) for every input row.
    Nothing store-sized reaches the driver at any step.

    Requires an integral id column (the pair machinery's Arrow schemas carry
    BIGINT ids); hash string ids to int64 first (e.g. xxhash64) if needed.
    """
    from oaim_sandbox_spark.queries import _embedding_pairs_core  # lazy: avoids import cycle

    id_type = df.schema[id_col].dataType.simpleString()
    if id_type not in ("bigint", "int", "smallint", "tinyint", "long"):
        raise ValueError(
            f"semantic_dedup needs an integral {id_col!r} (got {id_type}); "
            "hash string ids to int64 (xxhash64) before calling"
        )
    emb = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    pairs = _embedding_pairs_core(spark, emb, threshold=threshold).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    labels = connected_components(pairs, df.select(F.col(id_col)), node_col=id_col)
    kept = df.join(
        labels.filter(F.col(id_col) == F.col("cluster_id")).select(id_col),
        id_col,
        "semi",
    )
    return kept, labels
