"""Text-analysis operators for LLM training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting. All JVM-side column
expressions (functions/portable.py) — no Python in the hot path, every
operator oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from oaim_sandbox_spark.functions import portable as P

# Small per-language stopword lists for the n-gram/stopword-hit heuristic.
# Deliberately tiny + ASCII so the same IN-list is portable to the oracle.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "for", "on", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "por"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "zu", "ein"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "est"],
    "zh": ["de", "shi", "le", "zai", "he", "you", "wo", "ta", "men", "zhe"],
}
LANGS = sorted(STOPWORDS)  # deterministic tie-break order


def lang_scores_sql(text_col: str, dialect: str) -> dict[str, str]:
    toks = P.tokens(f"lower({text_col})", dialect)
    return {lang: P.stopword_hits(toks, words, dialect) for lang, words in STOPWORDS.items()}


def lang_id_sql(text_col: str, dialect: str) -> str:
    """Argmax language by stopword hits, ties broken by language-code order;
    'und' (undetermined) when no stopword at all matches."""
    scores = lang_scores_sql(text_col, dialect)
    greatest = "greatest(" + ", ".join(scores.values()) + ")"
    chain = " ".join(
        f"WHEN {scores[lang]} = {greatest} THEN '{lang}'" for lang in LANGS
    )
    return f"(CASE WHEN {greatest} = 0 THEN 'und' {chain} END)"


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("detected_lang", F.expr(lang_id_sql(text_col, "spark")))


def quality_metrics_sql(text_col: str, dialect: str) -> dict[str, str]:
    """The standard cheap quality signals: length, token count, mean token
    length, punctuation ratio, stopword ratio, digit ratio."""
    toks = P.tokens(text_col, dialect)
    n_tok = f"size({toks})" if dialect == "spark" else f"len({toks})"
    all_stop = sorted({w for ws in STOPWORDS.values() for w in ws})
    # zero guards via nullif: an empty/whitespace-only document has
    # length 0 and/or 0 tokens, and under Spark 4's default ANSI mode a
    # bare division aborts the WHOLE job with DIVIDE_BY_ZERO — one junk
    # doc in a 100 TB corpus must yield NULL ratios, not kill the scan.
    # nullif is portable (identical on DuckDB), so oracle parity holds.
    len_nz = f"nullif(length({text_col}), 0)"
    tok_nz = f"nullif({n_tok}, 0)"
    return {
        "n_chars": f"length({text_col})",
        "n_tokens": n_tok,
        "mean_token_len": f"round(length(replace({text_col}, ' ', '')) * 1.0 / {tok_nz}, 6)",
        "punct_ratio": f"round({P.regexp_count_portable(text_col, '[.,;:!?]', dialect)} * 1.0 / {len_nz}, 6)",
        "stopword_ratio": f"round({P.stopword_hits(P.tokens(f'lower({text_col})', dialect), all_stop, dialect)} * 1.0 / {tok_nz}, 6)",
        "digit_ratio": f"round({P.regexp_count_portable(text_col, '[0-9]', dialect)} * 1.0 / {len_nz}, 6)",
    }


def quality_score_sql(text_col: str, dialect: str) -> str:
    """Composite [0,1] quality score: rewards reasonable length and stopword
    density, penalizes digit/punct-heavy text. Weights are arbitrary but fixed."""
    m = quality_metrics_sql(text_col, dialect)
    len_term = f"least({m['n_chars']} / 1000.0, 1.0)"
    stop_term = f"least({m['stopword_ratio']} * 5.0, 1.0)"
    digit_pen = f"(1.0 - least({m['digit_ratio']} * 10.0, 1.0))"
    return f"round(0.4 * {len_term} + 0.4 * {stop_term} + 0.2 * {digit_pen}, 6)"


def quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    metrics = quality_metrics_sql(text_col, "spark")
    out = df
    for name, expr in metrics.items():
        out = out.withColumn(name, F.expr(expr))
    return out.withColumn("quality_score", F.expr(quality_score_sql(text_col, "spark")))


# BPE-ish token pattern: letter runs, digit runs, single non-alnum marks.
# \s (not just the space char) in the exclusion class: newlines/tabs are
# whitespace, not tokens — counting each '\n' as a token inflated
# bpe_tokens on markdown/code and disagreed with split.TokenSplitter's
# default counter, which uses the same class. Keep the two in lockstep.
TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def token_counts_sql(text_col: str, dialect: str) -> dict[str, str]:
    toks = P.tokens(text_col, dialect)
    n_ws = f"size({toks})" if dialect == "spark" else f"len({toks})"
    return {
        "ws_tokens": n_ws,
        "bpe_tokens": P.regexp_count_portable(text_col, TOKEN_PATTERN, dialect),
    }


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    exprs = token_counts_sql(text_col, "spark")
    return df.withColumn("ws_tokens", F.expr(exprs["ws_tokens"])).withColumn(
        "bpe_tokens", F.expr(exprs["bpe_tokens"])
    )


def fingerprint_sql(text_col: str, dialect: str) -> str:
    """Document fingerprint: portable 60-bit hash of whitespace-normalized,
    lower-cased text — the exact-dedup key that survives formatting noise."""
    return P.hash64(P.normalize_text(text_col, dialect), dialect)


def fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("fingerprint", F.expr(fingerprint_sql(text_col, "spark")))


# PII-shaped patterns for corpus scrubbing (training-data hygiene; beyond the
# reference, which only masks *password* config keys — api_call.py:129-135).
# Most-specific first: SSN/IPv4 before the generic phone shape, which would
# otherwise swallow any dotted/dashed digit run.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\+?\d[\d\s().-]{7,}\d",
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Redact PII-shaped spans with <KIND> placeholders and count hits per
    kind. Pure JVM regexp_replace/regexp chain — codegen-eligible, no Python
    in the hot path. Patterns apply in dict order and each kind counts
    matches on the ALREADY-redacted text of the previous kinds, so a span
    claimed by a more specific pattern is never double-counted by a broader
    one (an SSN is not also a phone).
    """
    patterns = PII_PATTERNS if patterns is None else patterns
    out_col = out_col or f"{text_col}_redacted"
    cur = F.col(text_col)
    for kind, pat in patterns.items():
        df = df.withColumn(
            f"n_{kind}",
            F.coalesce(F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0))), F.lit(0)),
        )
        cur = F.regexp_replace(cur, pat, f"<{kind.upper()}>")
    return df.withColumn(out_col, cur)


# ---------------------------------------------------------------------------
# Sampled sparse cosine (DIMSUM-flavored) — the LINEAR-cost document-pair
# similarity operator. The exact postings self-join costs sum(df^2) over the
# term-frequency histogram (quadratic in the df tail); sampling terms with
# p_t = min(1, C/df_t) and importance-correcting each surviving product by
# 1/p_t (Zadeh & Carlsson, "Dimension Independent Similarity Computation",
# 2013 — their magnitude-proportional row sampling, re-keyed to TERMS so the
# decision derives from the INTEGER df and is bit-identical across engines)
# bounds the expected join cost at C * n_terms: linear. The estimator's
# per-decile MAE/coverage audit is the certified `tfidf_cosine_sampled`
# registry entry; THIS is the production est-branch-only form it certifies.
# Reference anchor: the sandbox has no lexical pair-similarity op at all
# (vector-only retrieval, chatbot.py) — beyond-reference curation capability.
# ---------------------------------------------------------------------------


def _sqlstr(e: str, dialect: str) -> str:
    return P.str_cast(e, dialect)


def tfidf_weights_sql(
    dialect: str,
    rel: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    max_df_frac: float = 0.05,
) -> str:
    """Pruned tf-idf weight relation w(doc_id, t, df, w): word n-gram terms
    hashed to int64, tf per (doc, term), idf = ln(N/df); terms occurring in
    more than max(5, max_df_frac * N) documents dropped from the vector
    space entirely (stop-shingle pruning — the df cutoff is what bounds the
    exact self-join fan-out at scale)."""
    ng = P.word_ngrams(text_col, ngram, dialect)
    h = P.hash64("s", dialect)
    did = id_col if id_col == "doc_id" else f"{id_col} AS doc_id"
    if dialect == "spark":
        toks = f"SELECT {did}, explode(transform({ng}, s -> {h})) AS t FROM {rel}"
    else:
        toks = f"SELECT {did}, unnest(list_transform({ng}, s -> {h})) AS t FROM {rel}"
    return f"""
WITH toks AS ({toks}),
tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM toks GROUP BY doc_id, t),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM {rel}),
df AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t)
SELECT tf.doc_id AS doc_id, tf.t AS t, df.df AS df,
       tf.tf * ln(n.n_docs / df.df) AS w
FROM tf JOIN df ON tf.t = df.t CROSS JOIN n
WHERE df.df <= greatest(5.0, n.n_docs * {max_df_frac})
"""


def sampled_postings_sql(dialect: str, rel: str = "w", C: int = 3) -> str:
    """The standalone sampled-postings relation (`samp` of
    ``sampled_cosine_sql`` with its `wj` parent inlined). The Spark
    operators materialize it once (r14 opt): inlined into both est-join
    sides, the md5-based ``hash_unit`` sampling filter runs over every
    df>1 posting TWICE; DuckDB materializes CTEs natively and never paid
    this. The kept-term set is a deterministic function of (t, df), so the
    materialized relation is value-identical to the inline CTE."""
    u = P.hash_unit(_sqlstr("a.t", dialect), dialect)
    p = f"least(1.0, CAST({C} AS DOUBLE) / a.df)"
    return (
        f"SELECT a.doc_id AS doc_id, a.t AS t, a.w AS w, {p} AS p "
        f"FROM (SELECT doc_id, t, df, w FROM {rel} WHERE df > 1) a WHERE {u} < {p}"
    )


def sampled_cosine_sql(dialect: str, rel: str = "w", C: int = 3, threshold: float = 0.06,
                       samp_rel: str | None = None) -> str:
    """Est-branch-only sampled cosine over a weight relation `rel`
    (doc_id, t, df, w): term-sampled self-join with importance-corrected
    dot products, EXACT norms (norms are a linear aggregate — no reason to
    estimate them), threshold on the rounded estimate. Expected join cost
    is C * n_terms; a pair whose every shared term was sampled out is
    simply absent (the audit's `coverage` column quantifies that rate per
    exact-cosine decile). ``samp_rel``: a pre-materialized
    ``sampled_postings_sql`` relation — when given, the samp CTE is
    omitted and the est join reads it by name (single evaluation of the
    sampling hash; with the default None the emitted text is unchanged)."""
    u = P.hash_unit(_sqlstr("a.t", dialect), dialect)
    p = f"least(1.0, CAST({C} AS DOUBLE) / a.df)"
    samp_def = f"""samp AS (
  SELECT a.doc_id AS doc_id, a.t AS t, a.w AS w, {p} AS p
  FROM wj a WHERE {u} < {p}
),
""" if samp_rel is None else ""
    samp = samp_rel or "samp"
    return f"""
WITH wj AS (SELECT doc_id, t, df, w FROM {rel} WHERE df > 1),
norms AS (SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM {rel} GROUP BY doc_id),
{samp_def}est AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w * b.w / a.p) AS est_dot
  FROM {samp} a JOIN {samp} b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT CAST(est.doc_a AS BIGINT) AS doc_a, CAST(est.doc_b AS BIGINT) AS doc_b,
       CAST(round(est.est_dot / (na.nrm * nb.nrm), 6) AS DOUBLE) AS est_cosine
FROM est JOIN norms na ON na.doc_id = est.doc_a JOIN norms nb ON nb.doc_id = est.doc_b
WHERE round(est.est_dot / (na.nrm * nb.nrm), 6) >= {threshold}
ORDER BY doc_a, doc_b
"""


def _materialized_weights_view(
    s, df: DataFrame, text_col: str, id_col: str, ngram: int, max_df_frac: float
) -> str:
    """Shared stage-0 for the sampled-cosine operators: register the input
    under a view of the scope `s`, build the pruned weight relation,
    materialize it ONCE (size-thresholded — materialize.py) and return its
    view. The relation is not the scope's: the caller's returned plan reads
    it."""
    from oaim_sandbox_spark.materialize import materialize_relation

    w = s.spark.sql(
        tfidf_weights_sql("spark", rel=s.view(df, "scp_src"), text_col=text_col,
                          id_col=id_col, ngram=ngram, max_df_frac=max_df_frac)
    )
    return s.view(materialize_relation(w, "scp_w"), "scp_w")


def _materialized_samp_view(s, wname: str, C: int) -> str:
    """Materialize the sampled-postings relation once under a view of the
    scope `s` (see sampled_postings_sql docstring for why)."""
    from oaim_sandbox_spark.materialize import materialize_relation

    samp = s.spark.sql(sampled_postings_sql("spark", rel=wname, C=C))
    return s.view(materialize_relation(samp, "scp_samp"), "scp_samp")


def sampled_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    C: int = 3,
    threshold: float = 0.06,
    ngram: int = 3,
    max_df_frac: float = 0.05,
) -> DataFrame:
    """Linear-cost sampled tf-idf cosine document pairs over any DataFrame
    with (id_col, text_col). Returns (doc_a, doc_b, est_cosine), est_cosine
    rounded to 6. The weight relation feeds the norms aggregate plus both
    sampled-join sides, so it is materialized ONCE (size-thresholded:
    localCheckpoint locally, durable parquet staging past the spill
    threshold — materialize.py); Spark would otherwise re-run
    tokenize+tf+df per consumer. C trades recall for join volume — certify
    an operating C with the `tfidf_cosine_sampled` per-decile audit. Treat
    the output as CANDIDATES: at tiny p (huge df) the 1/p correction makes
    individual surviving products overshoot, so high-duplication corpora
    yield more above-threshold pairs than the exact join (50k-doc stress:
    3.64M candidates vs 821k exact) — re-score survivors exactly when the
    consumer needs precision, the way the LSH band join re-verifies.

    The sampled-postings relation is materialized once (r14 opt): inlined
    it would evaluate the md5 sampling hash over every df>1 posting per
    est-join SIDE; materialized (bounded by ~C·n_terms rows) the hash runs
    once and both sides read the checkpoint."""
    from oaim_sandbox_spark.materialize import scope

    # views resolve at analysis time: the scope drops them on return
    with scope(df.sparkSession) as s:
        wname = _materialized_weights_view(s, df, text_col, id_col, ngram, max_df_frac)
        sname = _materialized_samp_view(s, wname, C)
        return s.spark.sql(
            sampled_cosine_sql("spark", rel=wname, C=C, threshold=threshold, samp_rel=sname)
        )


def rescore_pairs_sql(dialect: str, w_rel: str = "w", cand_rel: str = "cand",
                      threshold: float = 0.06) -> str:
    """Exact cosine over a bounded CANDIDATE pair relation (doc_a, doc_b):
    join each pair back to the weight relation on both sides and sum the
    shared-term products — cost is |candidates| x shared-terms, never
    sum(df^2). The stage-2 verifier for the sampled est branch (the same
    candidates->exact shape as the LSH band join's re-verification)."""
    return f"""
WITH dots AS (
  SELECT c.doc_a AS doc_a, c.doc_b AS doc_b, SUM(a.w * b.w) AS dot
  FROM {cand_rel} c
  JOIN {w_rel} a ON a.doc_id = c.doc_a
  JOIN {w_rel} b ON b.doc_id = c.doc_b AND b.t = a.t
  GROUP BY c.doc_a, c.doc_b
),
norms AS (SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM {w_rel} GROUP BY doc_id)
SELECT CAST(dots.doc_a AS BIGINT) AS doc_a, CAST(dots.doc_b AS BIGINT) AS doc_b,
       CAST(round(dots.dot / (na.nrm * nb.nrm), 6) AS DOUBLE) AS tfidf_cosine
FROM dots JOIN norms na ON na.doc_id = dots.doc_a JOIN norms nb ON nb.doc_id = dots.doc_b
WHERE round(dots.dot / (na.nrm * nb.nrm), 6) >= {threshold}
ORDER BY doc_a, doc_b
"""


def sampled_cosine_pairs_rescored(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    C: int = 3,
    candidate_threshold: float = 0.06,
    threshold: float = 0.06,
    ngram: int = 3,
    max_df_frac: float = 0.05,
) -> DataFrame:
    """Two-stage linear-cost tf-idf cosine pairs: the sampled est branch
    generates candidates (C * n_terms join cost), then EXACT re-scoring of
    only those pairs removes the importance-correction overshoot — output
    values equal the exact join's, restricted to surfaced candidates
    (recall per decile = the certified `tfidf_cosine_sampled` audit's
    coverage column; set `candidate_threshold` below `threshold` to widen
    the funnel). Returns (doc_a, doc_b, tfidf_cosine)."""
    from oaim_sandbox_spark.materialize import materialize_relation, scope

    with scope(df.sparkSession) as s:
        wname = _materialized_weights_view(s, df, text_col, id_col, ngram, max_df_frac)
        sname = _materialized_samp_view(s, wname, C)
        cand = s.spark.sql(
            sampled_cosine_sql("spark", rel=wname, C=C, threshold=candidate_threshold,
                               samp_rel=sname)
        ).select("doc_a", "doc_b")
        # candidates are the bounded stage-1 output — materialize so the
        # sampled join runs once, not once per rescore branch
        cname = s.view(materialize_relation(cand, "scp_cand"), "scp_cand")
        return s.spark.sql(
            rescore_pairs_sql("spark", w_rel=wname, cand_rel=cname, threshold=threshold)
        )
