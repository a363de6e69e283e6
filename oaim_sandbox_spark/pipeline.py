"""End-to-end ingest pipelines.

`populate_vs` is the reference's §3.2 ingest job (`src/server/utils/
embedding.py:256-374`: split → dedup → batch-embed → anti-join merge →
index → catalog comment) re-expressed as ONE composable Spark job with the
skip-recompute improvement (anti-join BEFORE embed, so never-seen chunks are
the only ones that reach the provider).

`curate_corpus` is the beyond-reference training-data front end: the
scrub → quality-filter → exact-dedup → near-dedup stage chain every LLM
data pipeline runs before anything is embedded or tokenized, driven by a
plain config dict so a job spec is data, not code.

100 TB notes: every stage is a narrow transform or a key-hash shuffle the
individual operators already document; composing them adds no driver state —
the counts in the report are Spark aggregates, not collects.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from oaim_sandbox_spark.catalog import VectorStorage, VectorStoreCatalog, get_vs_table
from oaim_sandbox_spark.operators.dedup import (
    exact_dedup,
    incremental_near_dups,
    minhash_lsh_pairs,
)
from oaim_sandbox_spark.operators.embed import mock_embed_column
from oaim_sandbox_spark.operators.merge import merge_new_rows, with_content_id
from oaim_sandbox_spark.operators.split import split_fixed
from oaim_sandbox_spark.operators.text_analysis import quality_score_sql, redact_pii


@dataclass
class IngestReport:
    vs_name: str
    n_chunks: int
    n_deduped: int
    n_new: int
    index_path: str | None = None


def populate_vs(
    spark: SparkSession,
    docs: DataFrame,
    catalog: VectorStoreCatalog,
    vs: VectorStorage,
    embed_fn=None,
    text_col: str = "text",
    id_col: str = "doc_id",
    build_index: bool = False,
    n_centroids: int = 16,
) -> IngestReport:
    """Reference §3.2 `populate_vs` as one Spark job.

    Steps (reference embedding.py:256-374, step numbers from SURVEY §3.2):
    split (P1) → exact dedup (P7) → content-address (sha256, K2's ID
    semantics) → anti-join against the existing store (K2 — BEFORE the
    embed, the skip-recompute improvement over the reference's
    embed-then-merge) → embed only the new rows (P8/P9; `embed_fn` defaults
    to the deterministic mock) → append (K1) → sidecar catalog comment (K5).
    Returns chunk/dedup/new counts; nothing row-sized reaches the driver.
    """
    name, _comment = get_vs_table(
        vs.model, vs.chunk_size, vs.chunk_overlap, vs.distance_metric, vs.index_type, vs.alias
    )
    chunks = split_fixed(
        docs, text_col=text_col, id_col=id_col,
        chunk_size=vs.chunk_size, chunk_overlap=vs.chunk_overlap,
    )
    n_chunks = chunks.count()
    # materialize dedup ONCE: the report's n_deduped count and the embed
    # chain below otherwise re-run the split+window-dedup lineage from the
    # scan (the most expensive narrow stages, 3x for two report numbers)
    deduped = exact_dedup(chunks, text_col="text", order_col="id").localCheckpoint(eager=True)
    n_deduped = deduped.count()
    addressed = with_content_id(deduped, text_col="text", id_col="cid")
    try:
        store_df = catalog.read_store(name)
    except AnalysisException:
        # store genuinely absent (first ingest); any OTHER failure (IO,
        # corrupt footer) must propagate — treating it as "empty store"
        # would re-ingest everything and break K2 idempotency
        store_df = None
    if store_df is not None:
        # selecting a missing column is ALSO an AnalysisException — it must
        # not be mistaken for "first ingest": a same-named store built by a
        # different path (streaming ingest keys on 'id', no 'cid') would be
        # silently re-embedded in full AND appended with an extra column,
        # corrupting the store schema. Fail loudly instead.
        if "cid" not in store_df.columns:
            raise ValueError(
                f"store {name} exists but has no 'cid' column "
                f"(columns: {store_df.columns}) — it was built by a "
                "different ingest path; drop it or use that path's merge"
            )
        existing = store_df.select(F.col("cid"))
    else:
        existing = spark.createDataFrame([], "cid STRING")
    fresh = merge_new_rows(addressed, existing, id_col="cid")
    # materialize ONCE: count + append otherwise re-run the whole
    # split->dedup->anti-join->embed lineage, hitting a real provider twice
    embedded = (embed_fn or (lambda df: mock_embed_column(df, text_col="text")))(
        fresh
    ).localCheckpoint(eager=True)
    n_new = embedded.count()
    # the two checkpoints above stay raw calls on their lines (see the
    # materialize module docstring); `embedded` no longer reads `deduped`
    from oaim_sandbox_spark.materialize import release_relation

    release_relation(deduped)
    index_path = None
    try:
        if n_new:
            catalog.write_store(embedded, vs, mode="append")
    finally:
        release_relation(embedded)
    if build_index and (n_new or existing.count()):
        # K4 parity: the reference drops + rebuilds the vector index after
        # every merge (embedding.py:348-368); here the "index" is the
        # centroid-partitioned layout probes prune against, rebuilt beside
        # the flat store. Steady-state streaming appends instead use
        # IVFIndex.append_partitioned (no refit).
        from oaim_sandbox_spark.operators.ann import IVFIndex

        store = catalog.read_store(name)
        index_path = catalog._store_path(name) + "_ivf"
        IVFIndex(n_centroids=n_centroids, seed=42).fit(store).write_partitioned(
            store, index_path, compact=True
        )
    return IngestReport(
        vs_name=name, n_chunks=n_chunks, n_deduped=n_deduped, n_new=n_new,
        index_path=index_path,
    )


DEFAULT_CURATION = {
    "scrub_pii": True,
    "min_quality": 0.0,  # quality_score_sql threshold; 0 keeps everything
    "classifier_min_score": None,  # e.g. 0.4 → linear-model gate (fastText-style)
    "exact_dedup": True,
    "near_dup": "minhash",  # | "sampled_cosine" — which near-dup stage runs
    "near_dedup_jaccard": None,  # minhash: e.g. 0.5 → LSH drop of est-dup docs
    "near_dedup_cosine": None,  # sampled_cosine: e.g. 0.6 → tf-idf cosine threshold
    "near_dup_params": None,  # extra kwargs for the pair generator (e.g. max_df_frac)
}


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    config: dict | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    report: str | None = None,
) -> tuple[DataFrame, dict] | tuple[DataFrame, dict, dict]:
    """Config-driven corpus curation: scrub → quality gate → classifier gate
    (optional linear model, fastText-style) → exact dedup → near-dedup
    (minhash-LSH, first-wins). Returns (curated_df, stage_counts).

    ``report="quality_rules"`` additionally returns the Gopher rule
    fail-count matrix (the certified gopher_quality_rules body) over the
    INPUT frame — the audit that says which gates a source would survive,
    before any gate runs.

    ``report="accounting"`` (VERDICT r8 task #5) additionally returns the
    dedup-accounting family — per-source degree profile, threshold
    sensitivity curve, and the who-duplicates-whom source-pair matrix — as
    a third dict of DataFrames, computed from the pipeline's OWN
    materialized minhash pair relation (no re-shingling) at the run's
    operating threshold. The rollups are definitionally the standalone
    `dedup_degree_profile` / `dedup_threshold_sensitivity` /
    `cross_source_duplicate_matrix` registry entries (shared SQL bodies);
    requires the minhash near-dup stage with default banding parameters.
    Docs without a `source` column report under source='corpus'.

    The config is plain data so a curation job spec can live in a settings
    store (the reference's config-plane pattern, serving/config_plane.py)
    rather than code. Each stage only ever adds a narrow projection or one
    key-hash shuffle; disabled stages cost nothing.
    """
    if report not in (None, "accounting", "quality_rules"):
        raise ValueError(
            f"unknown report {report!r}; None, 'accounting' or 'quality_rules'"
        )
    from oaim_sandbox_spark.materialize import checkpoint, scope

    cfg = {**DEFAULT_CURATION, **(config or {})}
    counts: dict[str, int] = {"input": docs.count()}
    out, pinned = docs, None
    with scope(spark) as s:
        if report == "quality_rules":
            # audit the INPUT frame — the rule matrix informs which gates to
            # enable, so it must describe what the pipeline was fed, not what
            # survived the gates it is meant to justify
            reports = {"gopher_quality_rules": _quality_rules_report(spark, docs, text_col)}

        if cfg["scrub_pii"]:
            before = set(out.columns)
            out = redact_pii(out, text_col=text_col)
            added = set(out.columns) - before - {f"{text_col}_redacted"}
            out = (
                out.drop(text_col)
                .withColumnRenamed(f"{text_col}_redacted", text_col)
                .drop(*added)
            )

        if cfg["min_quality"] > 0:
            out = out.filter(
                F.expr(quality_score_sql(text_col, "spark")) >= F.lit(cfg["min_quality"])
            )
            # checkpoint BEFORE counting: every later stage (and each stage's
            # count action) would otherwise re-run the regex-heavy scrub +
            # quality projections from the scan — measured 2.3x on the bench
            # composite. One materialization, then counts are scans of it.
            out = pinned = s.checkpoint(out)
            counts["after_quality"] = out.count()

        if cfg.get("classifier_min_score") is not None:
            # model-based gate AFTER the cheap heuristic gate (the production
            # ordering: run the classifier only on what the heuristics kept);
            # join-free expression form — the weight map is model-sized
            from oaim_sandbox_spark.operators.classifier import linear_quality_score_sql

            out = out.filter(
                F.expr(linear_quality_score_sql(text_col)) >= F.lit(cfg["classifier_min_score"])
            )
            if cfg["exact_dedup"] or cfg["near_dedup_jaccard"] is not None:
                # same rationale as the quality checkpoint: later stages (and
                # their counts) would re-run the token-CASE scoring aggregate
                out = pinned = s.checkpoint(out)
            counts["after_classifier"] = out.count()

        method = cfg.get("near_dup", "minhash")
        if method not in ("minhash", "sampled_cosine"):
            raise ValueError(f"unknown near_dup method {method!r}; 'minhash' or 'sampled_cosine'")
        thr = cfg["near_dedup_jaccard"] if method == "minhash" else cfg["near_dedup_cosine"]
        if report == "accounting" and (method != "minhash" or thr is None):
            raise ValueError(
                "report='accounting' needs the minhash near-dup stage "
                "(near_dup='minhash' with near_dedup_jaccard set) — the "
                "rollups are defined over its pair graph"
            )

        if cfg["exact_dedup"]:
            out = exact_dedup(out, text_col=text_col, order_col=id_col)
            if thr is not None:
                # dedup output feeds the pair generation AND the anti-join left side
                out = pinned = s.checkpoint(out)
            counts["after_exact_dedup"] = out.count()

        if thr is not None:
            if not cfg["exact_dedup"]:
                out = pinned = s.checkpoint(out)
            extra = dict(cfg.get("near_dup_params") or {})  # copy: never mutate the caller's config
            if method == "minhash":
                pairs = minhash_lsh_pairs(out, id_col=id_col, text_col=text_col, **extra)
                if report == "accounting":
                    # the reports read the pair graph three more times — pin it
                    # (bounded: banded candidates only, never the corpus)
                    pairs = checkpoint(pairs)  # the returned frame reads it
                    reports = _accounting_reports(spark, out, pairs, thr, text_col, id_col)
                drop = (
                    pairs.filter(F.col("est_jaccard") >= thr)
                    .select(F.greatest("doc_a", "doc_b").alias(id_col))
                    .distinct()
                )
            else:
                # the linear-cost DIMSUM family as a curation lever (VERDICT r7
                # task #5): sampled-candidate generation + exact re-score of only
                # the surfaced pairs, then connected components so transitive
                # near-dup CHAINS collapse to one canonical doc (min id =
                # first-occurrence-wins, the same P7 ordering the exact stage
                # uses) instead of the pairwise greater-id drop
                from oaim_sandbox_spark.operators.dedup import connected_components
                from oaim_sandbox_spark.operators.text_analysis import (
                    sampled_cosine_pairs_rescored,
                )

                if "threshold" in extra:
                    raise ValueError(
                        "set the cosine drop threshold via near_dedup_cosine, not "
                        "near_dup_params['threshold']"
                    )
                # near_dup_params may widen/narrow the candidate funnel; default
                # keeps candidates at least as wide as the drop threshold
                extra.setdefault("candidate_threshold", min(0.06, thr))
                pairs = sampled_cosine_pairs_rescored(
                    out, text_col=text_col, id_col=id_col, threshold=thr, **extra,
                )
                comp = connected_components(pairs, out.select(id_col), node_col=id_col)
                drop = comp.filter(F.col(id_col) != F.col("cluster_id")).select(id_col)
            out = out.join(drop, id_col, "left_anti")
            counts["after_near_dedup"] = out.count()

        # `out` is unchanged after the last counted stage — recounting would
        # re-run the whole uncached chain (incl. the LSH self-join) for a number
        # we already have
        last = [v for k, v in counts.items() if k != "input"]
        # scrub is a pure projection, so with no counted stage the row count is
        # still the input's
        counts["output"] = last[-1] if last else counts["input"]
        # each checkpoint of `out` supersedes the one before it: the scope frees
        # the older ones and hands the last (which the returned frame reads) on
        if pinned is not None:
            s.keep(pinned)
        if report in ("accounting", "quality_rules"):
            return out, counts, reports
        return out, counts


def _quality_rules_report(spark: SparkSession, docs: DataFrame, text_col: str) -> DataFrame:
    """The Gopher rule fail-count matrix over the pipeline's own input
    frame: the SAME SQL body as the certified gopher_quality_rules entry
    (queries_extended._gopher_rules_body), so the report and the oracle
    entry cannot drift apart. Docs without a `source` column report under
    source='corpus'. The frame is PROJECTED to exactly (source, text) —
    the _accounting_reports pattern — so a non-'text' text_col never
    collides with an unrelated column literally named 'text' (r10 review:
    withColumnRenamed produced an AMBIGUOUS_REFERENCE there)."""
    from oaim_sandbox_spark.materialize import scope
    from oaim_sandbox_spark.queries_extended import _gopher_rules_body

    src = F.col("source") if "source" in docs.columns else F.lit("corpus")
    rel = docs.select(src.alias("source"), F.col(text_col).alias("text"))
    with scope(spark) as s:
        return spark.sql(_gopher_rules_body("spark", rel=s.view(rel, "qrules")))


def _accounting_reports(
    spark: SparkSession, docs: DataFrame, pairs: DataFrame, thr: float,
    text_col: str, id_col: str,
) -> dict[str, DataFrame]:
    """The dedup-accounting family over curate_corpus's own pair relation:
    shared SQL bodies with the standalone registry entries, so the pipeline
    report and the certified queries cannot drift apart. `docs` is the
    frame that FED the pair generation (post earlier gates), so the token
    accounting matches what the near-dup stage actually saw."""
    from oaim_sandbox_spark.materialize import scope
    from oaim_sandbox_spark.queries_extended import (
        _cross_source_dup_body,
        _dedup_degree_body,
        _dedup_threshold_body,
    )

    src = (F.col("source") if "source" in docs.columns else F.lit("corpus")).alias("source")
    # materialize each dim-sized report (sources x sources / 3 thresholds)
    # so the temp views can be dropped HERE instead of leaking one pair per
    # accounting run into the session catalog (review r9) — the returned
    # frames are self-contained
    with scope(spark) as s:
        docs_view = s.view(
            docs.select(F.col(id_col).alias("doc_id"), src, F.col(text_col).alias("text")),
            "acct_docs",
        )
        pairs_sql = (
            "SELECT doc_a, doc_b, est_jaccard FROM "
            + s.view(pairs.select("doc_a", "doc_b", "est_jaccard"), "acct_pairs")
        )
        return {
            name: spark.createDataFrame(df.collect(), df.schema)
            for name, df in (
                ("degree_profile", spark.sql(_dedup_degree_body(
                    "spark", pairs_sql=pairs_sql, docs_rel=docs_view, thr=thr))),
                ("threshold_sensitivity", spark.sql(_dedup_threshold_body(
                    "spark", pairs_sql=pairs_sql, docs_rel=docs_view))),
                ("source_matrix", spark.sql(_cross_source_dup_body(
                    "spark", pairs_sql=pairs_sql, docs_rel=docs_view, thr=thr))),
            )
        }


def curate_incremental(
    spark: SparkSession,
    new_docs: DataFrame,
    existing_docs: DataFrame,
    config: dict | None = None,
    near_dup_jaccard: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    existing_signatures: DataFrame | None = None,
) -> tuple[DataFrame, dict]:
    """Steady-state curation for continuous ingest: curate the NEW batch
    (scrub/quality/in-batch dedup via `curate_corpus`), then drop batch docs
    that are exact or near duplicates of the EXISTING corpus.

    Exact cross-batch dups go by content-hash anti-join (K2 semantics); near
    dups by `dedup.incremental_near_dups` — a new×existing band join whose
    cost is proportional to the batch, never corpus² (the existing side's
    band keys are persistable with the store). Returns (kept_new, counts)."""
    from oaim_sandbox_spark.materialize import checkpoint

    cfg = {**DEFAULT_CURATION, **(config or {})}
    # materialize the curated batch ONCE: the cross-exact join, both counts,
    # and the near-dup leg below each re-executed the regex-heavy
    # scrub/quality/dedup lineage from the scan otherwise (~5 actions)
    curated, counts = curate_corpus(spark, new_docs, cfg, text_col=text_col, id_col=id_col)
    curated = checkpoint(curated)  # the returned frame reads it

    # the new side was (possibly) PII-scrubbed by curate_corpus — compare
    # the existing corpus through the SAME lens, or a new doc identical to a
    # PII-bearing existing doc hashes differently and sails through
    existing_cmp = existing_docs
    if cfg["scrub_pii"]:
        existing_cmp = redact_pii(existing_cmp, text_col=text_col)
        existing_cmp = existing_cmp.drop(text_col).withColumnRenamed(
            f"{text_col}_redacted", text_col
        )

    # NORMALIZED-exact cross-batch key (trim + lower + collapse — the
    # repo's one fingerprint normalizer, P.normalize_text): catches
    # trivially-reformatted re-crawls of existing docs. Deliberately wider
    # than the in-batch exact_dedup's raw K2 identity; the previous inline
    # variant skipped trim(), so whitespace-padded dups slipped through.
    from oaim_sandbox_spark.functions import portable as P

    norm = F.sha2(F.expr(P.normalize_text(text_col, "spark")), 256)
    existing_hashes = existing_cmp.select(norm.alias("_h")).distinct()
    curated = (
        curated.withColumn("_h", norm)
        .join(existing_hashes, "_h", "left_anti")
        .drop("_h")
    )
    counts["after_cross_exact"] = curated.count()

    # existing_signatures must be signatures of the SCRUBBED text when
    # scrub_pii is on (the comparison lens above) — persist them from
    # existing_cmp, not the raw corpus
    near = incremental_near_dups(
        curated, existing_cmp, id_col=id_col, text_col=text_col,
        existing_signatures=existing_signatures,
    ).filter(F.col("est_jaccard") >= near_dup_jaccard)
    curated = curated.join(
        near.select(F.col("new_id").alias(id_col)).distinct(), id_col, "left_anti"
    )
    counts["after_cross_near"] = counts["output"] = curated.count()
    return curated, counts
