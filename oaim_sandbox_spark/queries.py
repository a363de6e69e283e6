"""Oracle-checked query registry — the driver contract surface (assembly).

The template registry (163 entries at split time, 171 now) grew past
6,400 lines in one module (VERDICT r5 task 5); it now lives in family
modules, imported here IN ORDER so the
TEMPLATES insertion order — and therefore the driver's certification-window
order — is byte-identical to the single-module layout:

  queries_core        tables/views, dialect shims, events normalization
  queries_relational  TPC-H-shaped analytics, event-time, retrieval top-k
  queries_training    splits/sampling/packing, BM25, quality filters
  queries_dedup       minhash/simhash/jaccard near-dup oracles
  queries_textstats   lang-id, quality scores, tokens, fingerprints
  queries_registry    TEMPLATES literal, COMPUTE_ONCE CTE declarations,
                      Spark overrides (streaming, CC, MMR, ANN tiers),
                      twins (part 1)
  queries_extended    PII/privacy/graph/curriculum families (part 2)

This module re-exports the whole public surface and keeps FLAGSHIP_FIRST +
the spark_queries()/oracle_sqls() assembly, so `__spark_entry__.py`, bench,
tools, and tests are untouched. Private names (helpers, _VIEWS_STATE,
_HAS_PROTOBUF, ...) resolve through module __getattr__ against the family
modules, so they always reflect live bindings (register_views rebinds
_VIEWS_STATE in queries_core; a by-value import would go stale).

Hash-compare conventions (unchanged): every float output is round(x, 6);
money aggregates go through exact DECIMAL sums; events.ts is normalized to
epoch-micros `ts_us` by register_views; every ORDER BY / LIMIT carries a
unique-key tiebreak; aggregate outputs are explicitly cast.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import oaim_sandbox_spark.queries_core as _q_core
import oaim_sandbox_spark.queries_relational as _q_relational
import oaim_sandbox_spark.queries_training as _q_training
import oaim_sandbox_spark.queries_dedup as _q_dedup
import oaim_sandbox_spark.queries_textstats as _q_textstats
import oaim_sandbox_spark.queries_registry as _q_registry
import oaim_sandbox_spark.queries_extended as _q_extended
from oaim_sandbox_spark.queries_core import *  # noqa: F401,F403
from oaim_sandbox_spark.queries_relational import *  # noqa: F401,F403
from oaim_sandbox_spark.queries_training import *  # noqa: F401,F403
from oaim_sandbox_spark.queries_dedup import *  # noqa: F401,F403
from oaim_sandbox_spark.queries_textstats import *  # noqa: F401,F403
from oaim_sandbox_spark.queries_registry import *  # noqa: F401,F403
from oaim_sandbox_spark.queries_extended import *  # noqa: F401,F403
from oaim_sandbox_spark.queries_registry import (  # noqa: F401
    COMPUTE_ONCE,
    NON_ORACLE,
    ORACLE_TWINS,
    SELF_AUDITED,
    SPARK_OVERRIDES,
    TEMPLATES,
)

# family modules in import order — __getattr__ resolves private names
# against these
_FAMILY_MODULES = (
    _q_core, _q_relational, _q_training, _q_dedup,
    _q_textstats, _q_registry, _q_extended,
)


def __getattr__(name: str):
    """Live delegation for names not re-exported above (underscore helpers,
    module-state like _VIEWS_STATE/_HAS_PROTOBUF): looked up at ACCESS time
    so rebinding globals in a family module stays visible here. Resolution
    walks the modules in REVERSE import order — latest-imported wins — the
    same winner the star-import chain above picks for public names, so a
    name collision resolves identically through either path (ADVICE r6;
    the dup-def test also forbids such collisions outright, for defs AND
    module-level assignments)."""
    for _m in reversed(_FAMILY_MODULES):
        if hasattr(_m, name):
            return getattr(_m, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")



def _make_spark_runner(name: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        # the template's COMPUTE_ONCE CTEs are computed once; other
        # multi-referenced corpus-scanning CTEs only at corpus scale (see
        # cte_materialize.run_sql_materialized)
        from oaim_sandbox_spark.cte_materialize import run_sql_materialized

        register_views(spark, sf_dir)
        return run_sql_materialized(
            spark, TEMPLATES[name]("spark"), once=COMPUTE_ONCE.get(name, ())
        )

    run.__name__ = f"query_{name}"
    return run


# Registry iteration order. External correctness harnesses may only sample a
# PREFIX of the registry, so the prefix must always hold the entries whose
# driver certification is most at risk: never-checked first (new entries),
# then last-check failures, then everything else by ascending last-certified
# round. Since round 13 this ordering is DERIVED AT IMPORT TIME from the
# committed CORRECTNESS_r*.json union (VERDICT r12 task #2 — the committed
# tuple went stale at every round boundary the moment the driver dropped a
# fresh record, failing the staleness pytest at three consecutive judge
# HEADs). `flagship_order()` below is the same pure function
# tools/window_rotation.py applies; `_ROTATION_TIEBREAK` is the committed
# r12-close snapshot, kept ONLY to break ties within one staleness tier so
# the derived order is stable and reproducible.


def _correctness_union(root: "str | None" = None) -> dict[str, tuple[int, bool]]:
    """name -> (last driver-checked round, passed) from CORRECTNESS_r*.json.

    Later rounds override earlier ones (sorted glob = ascending round for
    the zero-padded r01..r99 naming the driver uses). Unreadable files are
    skipped — a half-written record must never crash registry import.
    ``root`` defaults to the repo root derived from THIS file (r13 review:
    a hardcoded absolute path would silently yield an empty union — and a
    frozen, never-rotating window — on any checkout at another path)."""
    import glob as _glob
    import json as _json
    import os as _os

    if root is None:
        root = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    status: dict[str, tuple[int, bool]] = {}
    for path in sorted(_glob.glob(f"{root}/CORRECTNESS_r*.json")):
        try:
            rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
            with open(path) as fh:
                data = _json.load(fh)
        except (ValueError, OSError, _json.JSONDecodeError):
            continue
        if not isinstance(data, dict):
            continue
        for name, rec in data.items():
            if not isinstance(rec, dict):
                continue
            ok = bool(
                rec.get("rows_match")
                and rec.get("schema_match")
                and rec.get("hash_match")
                and not rec.get("err")
            )
            status[name] = (rnd, ok)
    return status


def flagship_order(
    names: "list[str] | None" = None,
    union: "dict[str, tuple[int, bool]] | None" = None,
) -> tuple[str, ...]:
    """The self-rotating certification window: registry names sorted by
    driver-certification urgency.

    Tiers (ascending): never driver-checked (new entries — never-certified
    is worse than stale), then last-check FAILING (must re-certify
    immediately), then previously-green entries by ascending last-checked
    round. Ties within a tier break on the committed `_ROTATION_TIEBREAK`
    snapshot position (names absent from the snapshot follow, in registry
    definition order), so the ordering is a pure deterministic function of
    (registry names, CORRECTNESS union, committed snapshot) — when the
    driver drops a fresh CORRECTNESS_r{N}.json the next import re-derives
    the window with the just-certified names demoted and the stalest tier
    promoted, with no hand-edited list."""
    if names is None:
        names = list(TEMPLATES)
    if union is None:
        union = _correctness_union()
    snap = {n: i for i, n in enumerate(_ROTATION_TIEBREAK)}
    defidx = {n: i for i, n in enumerate(names)}

    def sort_key(n: str) -> tuple[int, int, int]:
        tie = (0, snap[n]) if n in snap else (1, defidx.get(n, 1 << 30))
        rec = union.get(n)
        if rec is None:
            return (-2, *tie)
        rnd, ok = rec
        if not ok:
            return (-1, *tie)
        return (rnd, *tie)

    return tuple(sorted(names, key=sort_key))


# Committed r12-close snapshot — TIE-BREAK ONLY (see flagship_order). The
# historical window comments are preserved in git; this tuple is no longer
# the window itself.
_ROTATION_TIEBREAK: tuple[str, ...] = (
    # transformWithState twin: registered only where protobuf exists, and
    # never yet driver-checkable — keep it first among never-checked so it
    # certifies the first time it can; in protobuf-less envs it is filtered
    # out and costs no slot.
    "streaming_user_stats_tws",
    # --- NEW this round (must certify first-time; 10 entries): order/
    # lineitem DECIMAL reconciliation, filter-rule Venn attribution,
    # ingest-order template streaks, per-source OOV under a global vocab,
    # Benford first-digit audit, Simpson's-paradox screen, exponential
    # inter-arrival fit, event debounce rate, graded NDCG@5, rare-token
    # gibberish share.
    "order_total_reconciliation",
    "filter_venn_attribution",
    "adjacent_dup_streaks",
    "oov_rate_by_source",
    "benford_first_digit",
    "simpson_sign_flip",
    "interarrival_exp_fit",
    "event_debounce_rate",
    "ndcg_graded_retrieval",
    "rare_token_share",
    # --- wave 2 (also new this round): privacy, survival, monitoring,
    # dedup-aware mixture mass.
    "l_diversity_audit",
    "conversion_survival_curve",
    "daily_volume_anomalies",
    "dedup_weighted_mass",
    "type_mix_drift_daily",
    # --- last driver check: round 7 (all 20 remaining, staleness order):
    "trailing_hour_stats",
    "tfidf_top_terms",
    "domain_temperature_weights",
    "tokenizer_fertility",
    "semantic_dedup_clusters",
    "dsir_importance_weights",
    "classifier_quality_scores",
    "retrieval_eval_metrics",
    "countmin_token_topk",
    "classifier_calibration_ece",
    "corpus_version_diff",
    "colbert_maxsim_topk",
    "repeated_span_stats",
    "data_quality_profile",
    "psi_value_drift",
    "sampled_cosine_pairs",
    "embedding_drift_psi",
    "weak_label_vote",
    "hard_negative_mining",
    "unimax_budget_allocation",
    # --- last driver check: round 8 (the 30 stalest in the tool's
    # staleness order; the driver certifies only the first 50
    # FLAGSHIP_FIRST names, so the tail of this block past slot 50
    # falls out of the window as new r12 entries land above, and leads
    # the r13 head):
    "q1_pricing_summary",
    "split_fixed_chunks",
    "dedup_exact_first",
    "vs_merge_content_ids",
    "mock_embed_dims",
    "topk_cosine",
    "topk_euclidean",
    "topk_dot_product",
    "topk_score_threshold",
    "rag_topk_mock_query",
    "knn_join_batch",
    "lsh_ann_topk",
    "minhash_signatures",
    "simhash_fingerprints",
    "simhash_near_pairs",
    "lang_id",
    "quality_scores",
    "token_counts",
    "kl_divergence_by_source",
    "zipf_alpha_by_lang",
    "source_vocab_overlap",
    "event_markov_transitions",
    "source_lang_entropy",
    "reachability_bfs",
    "unpivot_monthly_metrics",
    "lateral_top_customers",
    "cusum_changepoint",
    "dow_seasonality",
    "bigram_pmi_topk",
    "user_burstiness",
)


# Derived at import: the live staleness-ordered window (see flagship_order).
FLAGSHIP_FIRST: tuple[str, ...] = flagship_order()


def _ordered_names() -> list[str]:
    front = [n for n in FLAGSHIP_FIRST if n in TEMPLATES]
    seen = set(front)
    return front + [n for n in TEMPLATES if n not in seen]


def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name in _ordered_names():
        out[name] = SPARK_OVERRIDES.get(name, _make_spark_runner(name))
    out.update(NON_ORACLE)
    return out


def oracle_sqls() -> dict[str, str]:
    return {name: TEMPLATES[name]("duck") for name in _ordered_names()}
