"""Registry assembly part 2 — the extended analytics families added in
rounds 3-5: PII redaction, temperature sampling, tokenizer fertility,
SemDeDup, DSIR, winnowing, SCD2 / point-in-time joins, graph
(PageRank/triangles/BFS), privacy (k-anonymity/DP), cohort/AB readouts,
curriculum, repeated-span stats. Each def registers itself into the shared
TEMPLATES/SPARK_OVERRIDES/COMPUTE_ONCE dicts imported from part 1."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from oaim_sandbox_spark.functions import portable as P
from oaim_sandbox_spark.operators import text_analysis as TA
from oaim_sandbox_spark.queries_core import (
    ALL_TABLES,
    EMBED_DIM,
    _dec,
    _dim_idx,
    _elem,
    _epoch_day,
    _idiv,
    _str,
    _ts_us,
    events_batch,
    events_stream,
    register_views,
)
from oaim_sandbox_spark.queries_relational import *  # noqa: F401,F403
from oaim_sandbox_spark.queries_training import *  # noqa: F401,F403
from oaim_sandbox_spark.queries_dedup import *  # noqa: F401,F403
from oaim_sandbox_spark.queries_textstats import *  # noqa: F401,F403
from oaim_sandbox_spark.queries_dedup import (  # noqa: F401
    _lsh_banded_cte,
    _minhash_sigs_sql,
    _sig_eq_terms,
    _simhash_fps_sql,
    _simhash_pairs_parts,
)
from oaim_sandbox_spark.queries_registry import (  # noqa: F401
    COMPUTE_ONCE,
    NON_ORACLE,
    ORACLE_TWINS,
    SELF_AUDITED,
    SPARK_OVERRIDES,
    TEMPLATES,
)


# ---------------------------------------------------------------------------
# PII redaction, temperature sampling, tokenizer fertility, SemDeDup-style
# semantic dedup, DSIR-style importance weighting. All dual-dialect, all
# driver-hashable outputs (scalar columns, round6 floats, exact-int counts).
# ---------------------------------------------------------------------------

# Backslash-free so the pattern strings survive BOTH engines' string-literal
# escape handling unchanged (the \b/\d forms in text_analysis.PII_PATTERNS
# are Spark-side column expressions, not SQL literals).
_PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
_PII_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
_PII_IP_RE = "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+"


def _pii_stats_sql(d: str, rel: str = "documents") -> str:
    """The PII augment→detect→redact→per-source-audit SQL over relation
    `rel` — shared by the batch template and the streaming runner."""
    email = "' contact user' || CAST(doc_id AS STRING) || '@example.com now'"
    phone = (
        "' call 555-' || lpad(CAST(doc_id % 1000 AS STRING), 3, '0')"
        " || '-' || lpad(CAST(doc_id % 10000 AS STRING), 4, '0') || ' soon'"
    )
    ip = (
        "' from 10.' || CAST(doc_id % 256 AS STRING) || '.'"
        " || CAST(doc_id % 250 AS STRING) || '.7 today'"
    )
    red = P.regexp_replace_all(
        P.regexp_replace_all(
            P.regexp_replace_all("text", _PII_EMAIL_RE, "<EMAIL>", d),
            _PII_PHONE_RE,
            "<PHONE>",
            d,
        ),
        _PII_IP_RE,
        "<IP>",
        d,
    )
    return f"""
WITH aug AS (
  SELECT doc_id, source,
         text
         || CASE WHEN doc_id % 5 = 0 THEN {email} ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN {phone} ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN {ip} ELSE '' END AS text
  FROM {rel}
),
det AS (
  SELECT source,
         {P.regexp_count_portable('text', _PII_EMAIL_RE, d)} AS n_email,
         {P.regexp_count_portable('text', _PII_PHONE_RE, d)} AS n_phone,
         {P.regexp_count_portable('text', _PII_IP_RE, d)} AS n_ip,
         length(text) - length({red}) AS delta
  FROM aug
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_email) AS BIGINT) AS n_emails,
       CAST(SUM(n_phone) AS BIGINT) AS n_phones,
       CAST(SUM(n_ip) AS BIGINT) AS n_ips,
       CAST(SUM(delta) AS BIGINT) AS chars_redacted
FROM det
GROUP BY source
ORDER BY source
"""


def pii_redaction_stats(d: str) -> str:
    """Training-corpus PII scrub audit — the oracle-checked twin of
    `operators/text_analysis.redact_pii`. The driver corpus is digit-free
    word soup, so detection over raw text would be vacuous: a deterministic
    synthetic-PII augmentation (emails/phones/IPv4 derived from doc_id)
    makes the regex machinery earn its result. Detect per kind, redact
    most-specific-first, report per-source counts and redacted char mass.
    All-JVM regexp chain on the Spark side (codegen-eligible — what a
    100 TB scrub pass needs); every output is an exact integer."""
    return _pii_stats_sql(d)


def domain_temperature_weights(d: str) -> str:
    """Temperature-scaled language sampling — the p_l^alpha rebalance used by
    multilingual corpora (mC4 / XLM-R recipe, alpha = 0.3): per-language raw
    share, temperature-scaled share, and the implied up/down-sampling boost.
    After the first GROUP BY everything is a language-histogram-sized dim
    (dozens of rows at ANY corpus scale), so the whole tail is free."""
    return """
WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
t AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM c),
w AS (SELECT lang, n, n / t.total AS p, pow(n / t.total, 0.3) AS pa FROM c CROSS JOIN t),
z AS (SELECT SUM(pa) AS zsum FROM w)
SELECT w.lang,
       CAST(w.n AS BIGINT) AS n_docs,
       CAST(round(w.p, 6) AS DOUBLE) AS p_raw,
       CAST(round(w.pa / z.zsum, 6) AS DOUBLE) AS p_temp,
       CAST(round((w.pa / z.zsum) / w.p, 6) AS DOUBLE) AS boost
FROM w CROSS JOIN z
ORDER BY w.lang
"""


def tokenizer_fertility(d: str) -> str:
    """Per-language tokenizer fertility profile (tokens per 100 chars, mean
    token length) — the standard sanity table before committing a tokenizer
    to a multilingual corpus. Token-char mass is length(text minus spaces),
    identical to sum-of-token-lengths under the whitespace tokenizer, so
    every aggregate is an exact integer and the two divisions at the end are
    the only float ops."""
    toks = P.tokens("text", d)
    return f"""
WITH t AS (
  SELECT lang,
         {P.list_len(toks, d)} AS n_tok,
         length(text) AS n_chars,
         length(replace(text, ' ', '')) AS tok_chars
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(round(SUM(n_tok) * 100.0 / SUM(n_chars), 6) AS DOUBLE) AS tokens_per_100_chars,
       CAST(round(SUM(tok_chars) * 1.0 / SUM(n_tok), 6) AS DOUBLE) AS avg_token_len
FROM t
GROUP BY lang
ORDER BY lang
"""


SEMDEDUP_CAP, SEMDEDUP_K, SEMDEDUP_SIM = 1500, 8, 0.35


def _semdedup_v_sql(d: str) -> str:
    """The normalized-vector relation SemDeDup runs over (vec_id, v, nrm)."""
    v = P.to_double_array("embedding", d)
    return (
        f"SELECT vec_id, {v} AS v, {P.norm2(v, d)} AS nrm "
        f"FROM embeddings WHERE vec_id < {SEMDEDUP_CAP}"
    )


def _semdedup_assign_cte(d: str, rel: str = "v") -> str:
    """CTE chain fragment: argmax-cosine centroid assignment over `rel`,
    ending in av(vec_id, v, nrm, cid). Prepend `WITH `."""
    asim = f"{P.dot('a.v', 'c.cv', d)} / (a.nrm * c.cn)"
    return f"""c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM {rel} WHERE vec_id < {SEMDEDUP_K}),
s AS (SELECT a.vec_id, c.cid, {asim} AS sim FROM {rel} a CROSS JOIN c),
asg AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
    FROM s
  ) r WHERE rn = 1
),
av AS (SELECT t.vec_id, t.v, t.nrm, asg.cid FROM {rel} t JOIN asg ON t.vec_id = asg.vec_id)"""


def _semdedup_final_sql(d: str, rel: str = "av") -> str:
    """Intra-cluster prune + per-cluster rollup over the assigned relation
    `rel` (vec_id, v, nrm, cid)."""
    psim = f"{P.dot('a.v', 'b.v', d)} / (a.nrm * b.nrm)"
    return f"""
WITH dup AS (
  SELECT DISTINCT b.vec_id AS vid
  FROM {rel} a JOIN {rel} b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE round({psim}, 6) >= {SEMDEDUP_SIM}
)
SELECT {rel}.cid AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(COUNT(dup.vid) AS BIGINT) AS n_dropped,
       CAST(COUNT(*) - COUNT(dup.vid) AS BIGINT) AS n_kept
FROM {rel} LEFT JOIN dup ON {rel}.vec_id = dup.vid
GROUP BY {rel}.cid
ORDER BY {rel}.cid
"""


def semantic_dedup_clusters(d: str) -> str:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the embedding
    space, then inside each cluster drop all-but-one of every pair with
    cosine >= threshold (lowest-id-wins keep policy). Deterministic oracle
    form: the 8 lowest-id vectors are the fixed coarse centroids, assignment
    is argmax cosine with an exact centroid-id tie-break. The quadratic step
    is bounded WITHIN a cluster (n²/k, the whole point of the method); the
    production scale path is `embedding_cosine_pairs`' distributed pair
    machinery (triangle-inequality cluster-pair pruning + tiled BLAS)
    feeding this same keep policy, and vec_id < CAP keeps the oracle's
    self-join bench-proportionate. Spark computes the vector and assigned
    relations once (COMPUTE_ONCE)."""
    final = _semdedup_final_sql(d).lstrip()
    assert final.startswith("WITH ")
    return (
        f"WITH v AS ({_semdedup_v_sql(d)}),\n"
        f"{_semdedup_assign_cte(d)},\n"
        f"{final[len('WITH '):]}"
    )


def dsir_importance_weights(d: str) -> str:
    """DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169): score
    each document by its mean token log-likelihood ratio between a TARGET
    unigram model (the 'en' slice here) and the full-corpus model, add-1
    smoothed over the corpus vocabulary — the cheap importance-resampling
    filter for steering a 100 TB crawl toward a target distribution. Shape:
    one token explode feeds a vocab-sized count dim; the scoring join
    broadcasts that dim back; document text never shuffles."""
    toks = P.tokens("text", d)
    if d == "spark":
        tok = f"SELECT doc_id, lang, tk FROM documents LATERAL VIEW explode({toks}) t AS tk"
    else:
        tok = f"SELECT doc_id, lang, unnest({toks}) AS tk FROM documents"
    return f"""
WITH tok AS ({tok}),
vocab AS (
  SELECT tk,
         CAST(COUNT(*) AS DOUBLE) AS cs,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS ct
  FROM tok GROUP BY tk
),
tot AS (SELECT SUM(cs) AS ns, SUM(ct) AS nt, COUNT(*) AS vsz FROM vocab),
scored AS (
  SELECT tok.doc_id AS doc_id,
         SUM(ln(((vocab.ct + 1) / (tot.nt + tot.vsz)) / ((vocab.cs + 1) / (tot.ns + tot.vsz)))) AS lr,
         COUNT(*) AS n_tok
  FROM tok JOIN vocab ON tok.tk = vocab.tk CROSS JOIN tot
  GROUP BY tok.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_tok AS BIGINT) AS n_tok,
       round(lr / n_tok, 6) + 0.0 AS avg_log_ratio,
       CASE WHEN lr > 0 THEN 'target-like' ELSE 'generic' END AS verdict
FROM scored
ORDER BY doc_id
"""


def streaming_pii_scrub(d: str) -> str:
    """Batch oracle for the Structured-Streaming PII scrub (the stream over
    a static directory must equal the batch pipeline exactly)."""
    return _pii_stats_sql(d)


WINNOW_NGRAM, WINNOW_W = 3, 4


def winnowing_fingerprints(d: str) -> str:
    """Robust winnowing (Schleimer et al., SIGMOD 2003 — the MOSS
    fingerprinting scheme): hash word 3-grams, slide a w=4 window over the
    hash sequence, keep each window's minimum; the distinct selected minima
    are the document's fingerprints (guaranteed-gap sampling: any shared
    word run of length >= w + ngram yields a shared fingerprint). Per doc:
    gram count, fingerprint count/density, and the number of fingerprints
    shared with ANY other document — the clone-detection signal. Shape: the
    window-min selection is a narrow per-row array transform (no explode
    until the already-winnowed fingerprints), and the fingerprint-DF dim
    pre-aggregates map-side; text never shuffles."""
    final = _winnow_final_sql(d).lstrip()
    assert final.startswith("WITH ")
    return f"WITH w AS ({_winnow_w_sql(d)}),\n{final[len('WITH '):]}"


def _winnow_w_sql(d: str) -> str:
    """Per-doc winnowed relation (doc_id, n_grams, n_fp, fps)."""
    hs = P.shingle_hashes("text", WINNOW_NGRAM, d)
    n_win = f"greatest(1, {P.list_len('hs', d)} - {WINNOW_W - 1})"
    win_min = P.list_min(P.subvec("hs", "i", WINNOW_W, d), d)
    if d == "spark":
        sel = f"transform(sequence(1, {n_win}), i -> {win_min})"
    else:
        sel = f"list_transform(generate_series(1, {n_win}), i -> {win_min})"
    fps = P.list_distinct(sel, d)
    return (
        f"SELECT doc_id, {P.list_len('hs', d)} AS n_grams, "
        f"{P.list_len(fps, d)} AS n_fp, {fps} AS fps "
        f"FROM (SELECT doc_id, {hs} AS hs FROM documents) b"
    )


def _winnow_final_sql(d: str, rel: str = "w") -> str:
    """Fingerprint-DF rollup over the winnowed relation `rel`."""
    if d == "spark":
        fp = f"SELECT doc_id, f FROM {rel} LATERAL VIEW explode(fps) t AS f"
    else:
        fp = f"SELECT doc_id, unnest(fps) AS f FROM {rel}"
    return f"""
WITH fp AS ({fp}),
dfreq AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS df FROM fp GROUP BY f),
sh AS (
  SELECT fp.doc_id AS doc_id,
         SUM(CASE WHEN dfreq.df > 1 THEN 1 ELSE 0 END) AS n_shared
  FROM fp JOIN dfreq ON fp.f = dfreq.f
  GROUP BY fp.doc_id
)
SELECT CAST({rel}.doc_id AS BIGINT) AS doc_id,
       CAST({rel}.n_grams AS BIGINT) AS n_grams,
       CAST({rel}.n_fp AS BIGINT) AS n_fingerprints,
       CAST(round({rel}.n_fp * 1.0 / {rel}.n_grams, 6) AS DOUBLE) AS fp_density,
       CAST(sh.n_shared AS BIGINT) AS n_shared_fp
FROM {rel} JOIN sh ON {rel}.doc_id = sh.doc_id
ORDER BY doc_id
"""


TEMPLATES["streaming_pii_scrub"] = streaming_pii_scrub
TEMPLATES["pii_redaction_stats"] = pii_redaction_stats
def scd2_purchase_history(d: str) -> str:
    """SCD-type-2 history build from an append-only event log: each user's
    purchase stream becomes interval rows (valid_from, valid_to, is_current)
    via LEAD — the standard warehouse shape for reconstructing mutable state
    from CDC without a mutable table. One shuffle on the key (window
    partition); at scale the log is already ingest-partitioned by key-hash
    so the window sorts locally."""
    return f"""
SELECT user_id,
       valid_from,
       COALESCE(next_ts, CAST(9223372036854775807 AS BIGINT)) AS valid_to,
       CAST(round(value, 6) AS DOUBLE) AS value,
       CAST(CASE WHEN next_ts IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
FROM (
  SELECT user_id, {_ts_us(d)} AS valid_from, value,
         LEAD({_ts_us(d)}) OVER (PARTITION BY user_id ORDER BY {_ts_us(d)} ASC, event_id ASC) AS next_ts
  FROM events WHERE event_type = 'purchase'
) t
ORDER BY user_id, valid_from
"""


def lang_confusion_matrix(d: str) -> str:
    """Classifier evaluation in-engine: confusion matrix of the lang-id
    heuristic (text_analysis.lang_id_sql) against the corpus's labeled lang
    column, with each cell's share of its true-language row. The eval is one
    grouped count over a narrow projection — at 100 TB you eval the
    classifier the same way you run it, no sampling export step. Exact-int
    cells; the share divides two ints."""
    det = TA.lang_id_sql("text", d)
    return f"""
WITH m AS (
  SELECT lang AS true_lang, {det} AS detected_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents
  GROUP BY lang, {det}
)
SELECT true_lang, detected_lang, n,
       CAST(round(n * 1.0 / SUM(n) OVER (PARTITION BY true_lang), 6) AS DOUBLE) AS frac_of_true
FROM m
ORDER BY true_lang, detected_lang
"""


TEMPLATES["winnowing_fingerprints"] = winnowing_fingerprints
TEMPLATES["scd2_purchase_history"] = scd2_purchase_history
def trailing_hour_stats(d: str) -> str:
    """Time-based RANGE window frame (the frame type the rest of the
    registry's ROWS frames don't cover): per user, each event's count and
    exact-decimal mean of `value` over the TRAILING HOUR by event time —
    the physical-time sliding aggregate a feature store computes per
    interaction. RANGE on epoch-micros shuffles once on the key; frame
    bounds are evaluated on the sorted run, no self-join."""
    w = (
        f"(PARTITION BY user_id ORDER BY {_ts_us(d)} "
        "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"
    )
    return f"""
SELECT user_id, event_id,
       CAST({_ts_us(d)} AS BIGINT) AS ts_us,
       CAST(COUNT(*) OVER {w} AS BIGINT) AS n_trailing_hour,
       CAST(round(CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER {w} AS DOUBLE)
                  / COUNT(*) OVER {w}, 6) AS DOUBLE) AS avg_trailing_hour
FROM events
WHERE user_id % 7 = 0
ORDER BY user_id, ts_us, event_id
"""


TEMPLATES["lang_confusion_matrix"] = lang_confusion_matrix
def _source_vocab_tok_sql(d: str) -> str:
    """(source, g) token explode — the ONE corpus fragment both the exact
    overlap matrix and its registered MinHash scale twin
    (queries_registry.approx_vocab_overlap) consume, so the two cannot
    drift (the _ngram_explode_sql rule)."""
    grams = P.word_ngrams("text", 1, d)
    if d == "spark":
        return f"SELECT source, g FROM documents LATERAL VIEW explode({grams}) t0 AS g"
    return f"SELECT source, unnest({grams}) AS g FROM documents"


def _source_vocab_sg_sql(d: str) -> str:
    """Distinct (source, token) relation — the vocab-sized core the overlap
    matrix joins over."""
    return f"SELECT DISTINCT source, g FROM ({_source_vocab_tok_sql(d)}) t"


def _source_vocab_final_sql(d: str, rel: str = "sg") -> str:
    return f"""
WITH sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM {rel} GROUP BY source),
inter AS (
  SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS ni
  FROM {rel} a JOIN {rel} b ON a.g = b.g AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT i.sa AS source_a, i.sb AS source_b, i.ni AS n_shared,
       CAST(round(i.ni * 1.0 / (x.n + y.n - i.ni), 6) AS DOUBLE) AS vocab_jaccard
FROM inter i JOIN sz x ON i.sa = x.source JOIN sz y ON i.sb = y.source
ORDER BY source_a, source_b
"""


def source_vocab_overlap(d: str) -> str:
    """Pairwise source-level vocabulary Jaccard — the domain-similarity
    matrix behind mixture design (which domains are near-duplicates of each
    other vs genuinely diverse). Distinct (source, token) pre-aggregates
    map-side to vocab size; the self-join carries only tokens, and the
    output is |sources|² rows — driver-tiny at any corpus scale. Spark
    computes the distinct-token relation once (COMPUTE_ONCE: it feeds both
    self-join sides plus the size dim)."""
    final = _source_vocab_final_sql(d).lstrip()
    assert final.startswith("WITH ")
    return f"WITH sg AS ({_source_vocab_sg_sql(d)}),\n{final[len('WITH '):]}"


TEMPLATES["trailing_hour_stats"] = trailing_hour_stats
def event_markov_transitions(d: str) -> str:
    """First-order event-type transition matrix (sequence-model prep): per
    user, LAG over the time-ordered stream gives consecutive pairs; the
    grouped count + per-from-state share IS the empirical Markov kernel.
    One key-partitioned window + one grouped agg — the sequence never
    leaves its user partition."""
    return f"""
WITH seq AS (
  SELECT event_type AS to_state,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY {_ts_us(d)} ASC, event_id ASC) AS from_state
  FROM events
),
m AS (
  SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE from_state IS NOT NULL
  GROUP BY from_state, to_state
)
SELECT from_state, to_state, n,
       CAST(round(n * 1.0 / SUM(n) OVER (PARTITION BY from_state), 6) AS DOUBLE) AS p
FROM m
ORDER BY from_state, to_state
"""


def source_lang_entropy(d: str) -> str:
    """Per-source language-mix Shannon entropy — the diversity scalar for
    mixture design (a source with entropy 0 is monolingual; log|langs| is a
    uniform mix). Language histogram per source is dim-sized; entropy is a
    second tiny agg over it."""
    return """
WITH c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY source, lang),
t AS (SELECT source, CAST(SUM(n) AS DOUBLE) AS tot FROM c GROUP BY source)
SELECT c.source,
       CAST(COUNT(*) AS BIGINT) AS n_langs,
       CAST(round(-SUM((c.n / t.tot) * ln(c.n / t.tot)), 6) + 0.0 AS DOUBLE) AS lang_entropy
FROM c JOIN t ON c.source = t.source
GROUP BY c.source
ORDER BY c.source
"""


def tfidf_top_terms(d: str) -> str:
    """Per-document TF-IDF top terms — the classic keyword/representation
    signal next to BM25 (bm25_topk scores QUERY matches; this characterizes
    each document). Shape: one token explode -> per-(doc, token) counts;
    document frequency collapses the same relation to a vocab-sized dim that
    joins back (broadcastable at any corpus scale); per-doc top-3 via a
    window PARTITIONED by doc_id — no global sort, text never shuffles.
    Smoothed idf = ln((N+1)/(df+1)) + 1 (sklearn's convention) keeps every
    term positive and engine-identical. Deterministic doc subset keeps the
    bench slice proportionate."""
    toks = P.tokens("text", d)
    if d == "spark":
        tok = f"SELECT doc_id, tok FROM documents LATERAL VIEW explode({toks}) t AS tok WHERE doc_id % 10 = 0"
    else:
        tok = f"SELECT doc_id, unnest({toks}) AS tok FROM documents WHERE doc_id % 10 = 0"
    return f"""
WITH tk AS ({tok}),
tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf FROM tk GROUP BY doc_id, tok),
df AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tk GROUP BY tok),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM tk),
scored AS (
  SELECT tf.doc_id, tf.tok,
         tf.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0) AS tfidf
  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
),
ranked AS (
  SELECT doc_id, tok, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS rk
  FROM scored
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(rk AS INT) AS rank, tok AS term,
       CAST(round(tfidf, 6) AS DOUBLE) AS tfidf
FROM ranked
WHERE rk <= 3
ORDER BY doc_id, rank
"""


def kl_divergence_by_source(d: str) -> str:
    """Per-source token-distribution KL divergence from the corpus
    distribution — the domain-shift scalar for mixture design (PSI tracks a
    binned numeric column over time; this compares each source's unigram
    LANGUAGE MODEL against the corpus). Laplace-smoothed over the corpus
    vocab so KL is finite for vocab subsets.

    The naive full KL needs a source x vocab OUTER join (every source paired
    with every corpus term — quadratic-ish blowup at 100 TB vocab). This
    form is EXACT full-support KL with no outer join: for terms absent from
    a source, p is the constant p0 = 1/(tot+V), so their contribution
    collapses algebraically to
        p0 * ((V - n_present)*ln(p0) - (L - sum_present ln(q)))
    where L = sum over the whole vocab of ln(q) is ONE corpus scalar.
    Shape: one token explode -> (source, token) counts; everything else is
    dim-sized aggs over that counted relation; output is source-dim-sized."""
    toks = P.tokens("text", d)
    if d == "spark":
        tok = f"SELECT source, tok FROM documents LATERAL VIEW explode({toks}) t AS tok"
    else:
        tok = f"SELECT source, unnest({toks}) AS tok FROM documents"
    return f"""
WITH tk AS ({tok}),
sc AS (SELECT source, tok, CAST(COUNT(*) AS DOUBLE) AS c FROM tk GROUP BY source, tok),
corp AS (SELECT tok, CAST(SUM(c) AS DOUBLE) AS c FROM sc GROUP BY tok),
v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS vocab, CAST(SUM(c) AS DOUBLE) AS total FROM corp),
-- lq / present_lnq are the registry's only UNWEIGHTED ln sums — they grow
-- linearly with vocab (|term| <= ~30), so scale 9 keeps the BIGINT
-- capacity at ~3e8 vocab terms per group (ANSI-throws loudly beyond,
-- never wraps); the 1e-9-per-term grid error enters the output only
-- after division by (tot + V), far below round-6. The WEIGHTED entropy
-- sums elsewhere are bounded by the entropy value itself (sum p = 1) and
-- keep the finer scale.
lq AS (SELECT CAST({P.exact_sum('ln((corp.c + 1.0) / (v.total + v.vocab))', d, 9)}
              AS DOUBLE) AS l
       FROM corp CROSS JOIN v),
st AS (SELECT source, CAST(SUM(c) AS DOUBLE) AS tot FROM sc GROUP BY source),
terms AS (
  SELECT sc.source, st.tot,
         (sc.c + 1.0) / (st.tot + v.vocab) AS p,
         (corp.c + 1.0) / (v.total + v.vocab) AS q
  FROM sc
  JOIN corp ON sc.tok = corp.tok
  JOIN st ON sc.source = st.source
  CROSS JOIN v
),
agg AS (
  SELECT source,
         {P.exact_sum('p * ln(p / q)', d, 11)} AS present_kl,
         {P.exact_sum('ln(q)', d, 9)} AS present_lnq,
         CAST(COUNT(*) AS DOUBLE) AS n_present,
         MAX(tot) AS tot
  FROM terms
  GROUP BY source
)
SELECT a.source,
       CAST(round(a.present_kl
         + (1.0 / (a.tot + v.vocab))
           * ((v.vocab - a.n_present) * ln(1.0 / (a.tot + v.vocab))
              - (lq.l - a.present_lnq)), 6) + 0.0 AS DOUBLE) AS kl_from_corpus,
       CAST(a.n_present AS BIGINT) AS n_terms
FROM agg a CROSS JOIN v CROSS JOIN lq
ORDER BY a.source
"""


def zipf_alpha_by_lang(d: str) -> str:
    """Zipf-law exponent per language — the corpus-health diagnostic for LM
    data (natural text sits near alpha ~= 1; far-off values flag boilerplate
    floods or synthetic/templated text). OLS fit of ln(freq) on ln(rank)
    over each language's top-500 tokens, closed-form slope from the five
    classic sums — accumulated via P.exact_sum (scale 12; <=500 bounded
    terms of |t| <= ~290, well inside BIGINT), so the moments are
    merge-order independent on both engines, no regr_* dependency.
    Shape: token explode -> (lang, token) counts (map-side combinable);
    ranking window is PARTITIONED by lang over the vocab-sized count
    relation; the fit aggregates 500 rows per lang. r2 reports fit quality
    so a low-alpha verdict can't hide a non-power-law distribution.
    Degenerate languages (one distinct token: no x variance; all counts
    equal: no y variance) yield NULL alpha/r2 on BOTH engines — without the
    guards Spark's ANSI mode throws DIVIDE_BY_ZERO where DuckDB returns
    NULL, an engine divergence."""
    toks = P.tokens("text", d)
    if d == "spark":
        tok = f"SELECT lang, tok FROM documents LATERAL VIEW explode({toks}) t AS tok"
    else:
        tok = f"SELECT lang, unnest({toks}) AS tok FROM documents"
    return f"""
WITH tk AS ({tok}),
tf AS (SELECT lang, tok, CAST(COUNT(*) AS DOUBLE) AS c FROM tk GROUP BY lang, tok),
ranked AS (
  SELECT lang, c, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, tok ASC) AS rk
  FROM tf
),
pts AS (
  SELECT lang, ln(CAST(rk AS DOUBLE)) AS x, ln(c) AS y
  FROM ranked WHERE rk <= 500
),
fit AS (
  SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n,
         {P.exact_sum('x', d, 12)} AS sx, {P.exact_sum('y', d, 12)} AS sy,
         {P.exact_sum('x * y', d, 12)} AS sxy,
         {P.exact_sum('x * x', d, 12)} AS sxx,
         {P.exact_sum('y * y', d, 12)} AS syy,
         MIN(x) AS xlo, MAX(x) AS xhi, MIN(y) AS ylo, MAX(y) AS yhi
  FROM pts GROUP BY lang
)
SELECT lang, CAST(n AS BIGINT) AS n_terms,
       -- degenerate guards are the exact MIN=MAX tests: with grid-rounded
       -- sums (exact_sum) the moment determinant is no longer EXACTLY
       -- zero for a zero-variance column (the r11 heaps hypothesis pin
       -- caught this class), and the literal-zero comparison would stop
       -- firing while the true variance is zero
       CAST(round(CASE WHEN xlo = xhi OR (n * sxx - sx * sx) = 0 THEN NULL
                       ELSE -(n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6) + 0.0
            AS DOUBLE) AS zipf_alpha,
       CAST(round(CASE WHEN xlo = xhi OR ylo = yhi
                            OR (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0
                       THEN NULL
                       ELSE ((n * sxy - sx * sy) * (n * sxy - sx * sy))
                            / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6)
            AS DOUBLE) AS r2
FROM fit
ORDER BY lang
"""


TEMPLATES["tfidf_top_terms"] = tfidf_top_terms
TEMPLATES["kl_divergence_by_source"] = kl_divergence_by_source
TEMPLATES["zipf_alpha_by_lang"] = zipf_alpha_by_lang
TEMPLATES["source_vocab_overlap"] = source_vocab_overlap
TEMPLATES["event_markov_transitions"] = event_markov_transitions
TEMPLATES["source_lang_entropy"] = source_lang_entropy
COMPUTE_ONCE["source_vocab_overlap"] = ("sg",)
# inlined, `w` re-runs the md5-shingle + window-min pipeline per reference
# (measured 46 s against about 2 s computed once, at sf0.01)
COMPUTE_ONCE["winnowing_fingerprints"] = ("w",)
TEMPLATES["domain_temperature_weights"] = domain_temperature_weights
TEMPLATES["tokenizer_fertility"] = tokenizer_fertility
TEMPLATES["semantic_dedup_clusters"] = semantic_dedup_clusters
TEMPLATES["dsir_importance_weights"] = dsir_importance_weights


SPAN_GRAM = 20  # char-gram width for repeated-span detection


def _span_grams_sql(d: str, rel: str = "documents") -> str:
    """(doc_id, pos, g): every positioned char SPAN_GRAM-gram of each doc.
    Raw gram strings, not hashes: an A/B at sf0.1 measured the md5-hashed
    variant SLOWER (8.8 s vs 6.3 s warm) — 1.4M md5+conv evaluations cost
    more than shuffling 20-char strings. At real cluster scale with network
    shuffle the hash trades the other way; flip here if profiling says so."""
    n = SPAN_GRAM
    if d == "spark":
        return (
            f"SELECT doc_id, j AS pos, substring(text, j, {n}) AS g "
            f"FROM {rel} LATERAL VIEW explode(sequence(1, length(text) - {n - 1})) t AS j "
            f"WHERE length(text) >= {n}"
        )
    return (
        f"SELECT doc_id, pos, substring(text, pos, {n}) AS g FROM ("
        f"SELECT doc_id, unnest(generate_series(1, length(text) - {n - 1})) AS pos, text "
        f"FROM {rel} WHERE length(text) >= {n}) t0"
    )


def _span_stats_final_sql(d: str, rel: str) -> str:
    return f"""
WITH rep AS (
  SELECT g FROM {rel}
  GROUP BY g HAVING MIN(doc_id) <> MAX(doc_id)
),
hits AS (
  SELECT h.doc_id, h.pos, h.pos + {SPAN_GRAM - 1} AS e
  FROM {rel} h JOIN rep ON h.g = rep.g
),
isl AS (
  SELECT doc_id, pos, e,
         CASE WHEN pos > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY pos ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
              THEN 1 ELSE 0 END AS brk
  FROM hits
),
sp AS (
  SELECT doc_id, MIN(pos) AS s, MAX(e) AS e
  FROM (
    SELECT doc_id, pos, e,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM isl
  ) t
  GROUP BY doc_id, island
)
SELECT sp.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(sp.e - sp.s + 1) AS BIGINT) AS covered_chars,
       CAST(round(SUM(sp.e - sp.s + 1) * 1.0 / doc.n_chars, 6) AS DOUBLE) AS repeated_frac
FROM sp JOIN documents doc ON sp.doc_id = doc.doc_id
GROUP BY sp.doc_id, doc.n_chars
ORDER BY sp.doc_id
"""


def repeated_span_stats(d: str) -> str:
    """Exact-substring repeated-span profile (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" signal,
    re-expressed relationally): every positioned char 20-gram that occurs in
    more than one document marks a repeated region; per document the hit
    intervals [pos, pos+19] are merged gaps-and-islands style (cumulative-max
    window, no self-join) into maximal spans, then rolled up to
    (n_spans, covered_chars, repeated_frac). A training pipeline cuts or
    drops the spans; this emits the audit profile. Shape: one positioned
    explode (corpus-chars rows) feeds the cross-doc test (one grouped agg —
    "in >1 distinct doc" is MIN(doc_id) <> MAX(doc_id), so the partials are
    two bigints, not a distinct set) and a semi-join back; the windows are
    doc-partitioned. At 100 TB the
    gram string never shuffles twice: hash the gram (xxhash64) for the DF
    key and keep positions partition-local — Spark computes the gram
    relation once (COMPUTE_ONCE) so the explode isn't recomputed per
    consumer."""
    grams = _span_grams_sql(d)
    return f"WITH grams AS ({grams}),\n{_span_stats_final_sql(d, 'grams').lstrip()[len('WITH '):]}"


def data_quality_profile(d: str) -> str:
    """Deequ-style data-quality report over `orders`: one wide aggregation
    pass computes size, per-column completeness, distinctness, numeric
    min/max/mean, and declarative constraint violations (non-negative price,
    status domain, key uniqueness); the single-row wide result is unpivoted
    to the long (metric, column, value) report shape. ONE scan, one global
    agg (xchg=1) — the constraint checks are plain CASE aggregates so at
    100 TB validation costs the same as any full-scan agg. Exact
    COUNT(DISTINCT) here because the oracle must be exact; the mergeable
    HLL/KLL variant for interactive profiling is `sketch_profile`."""
    return """
WITH w AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_rows,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS null_cust,
         CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS null_price,
         CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) AS dist_key,
         CAST(COUNT(DISTINCT o_orderstatus) AS DOUBLE) AS dist_status,
         CAST(COUNT(DISTINCT o_orderpriority) AS DOUBLE) AS dist_prio,
         CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
         CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
         CAST(AVG(o_totalprice) AS DOUBLE) AS avg_price,
         CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS DOUBLE) AS viol_price,
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS DOUBLE) AS viol_status,
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS DOUBLE) AS viol_unique
  FROM orders
)
SELECT metric, col, CAST(round(value, 6) AS DOUBLE) AS value FROM (
  SELECT 'size' AS metric, '*' AS col, n_rows AS value FROM w
  UNION ALL SELECT 'completeness', 'o_custkey', 1.0 - null_cust / n_rows FROM w
  UNION ALL SELECT 'completeness', 'o_totalprice', 1.0 - null_price / n_rows FROM w
  UNION ALL SELECT 'distinctness', 'o_orderkey', dist_key / n_rows FROM w
  UNION ALL SELECT 'approx_distinct', 'o_orderstatus', dist_status FROM w
  UNION ALL SELECT 'approx_distinct', 'o_orderpriority', dist_prio FROM w
  UNION ALL SELECT 'min', 'o_totalprice', min_price FROM w
  UNION ALL SELECT 'max', 'o_totalprice', max_price FROM w
  UNION ALL SELECT 'mean', 'o_totalprice', avg_price FROM w
  UNION ALL SELECT 'violations:non_negative', 'o_totalprice', viol_price FROM w
  UNION ALL SELECT 'violations:in_domain', 'o_orderstatus', viol_status FROM w
  UNION ALL SELECT 'violations:unique', 'o_orderkey', viol_unique FROM w
) t
ORDER BY metric, col
"""


PSI_BINS, PSI_LO, PSI_HI = 10, 0.0, 500.0  # events.value observed in [0, 500)


def psi_value_drift(d: str) -> str:
    """Population-stability-index drift monitor: per event_type, PSI of the
    `value` distribution between a reference window (first half of the
    month) and the current window. Fixed-width bins over a pinned range keep
    the binning deterministic and engine-identical; additive 0.5 smoothing
    avoids ln(0) on empty bins. Shape: one scan bins every event
    ((type, window, bin) grouped count — map-side combine), the per-type
    totals and the PSI rollup operate on a bins×types dim. The standard
    production check that a feature/corpus slice silently changed under the
    model."""
    width = (PSI_HI - PSI_LO) / PSI_BINS
    b = f"LEAST(GREATEST(CAST(floor((value - {PSI_LO}) / {width}) AS INT), 0), {PSI_BINS - 1})"
    half = "CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 'ref' ELSE 'cur' END"
    _ALLBINS = (
        f"SELECT explode(sequence(0, {PSI_BINS - 1})) AS bin"
        if d == "spark"
        else f"SELECT unnest(generate_series(0, {PSI_BINS - 1})) AS bin"
    )
    return f"""
WITH binned AS (
  SELECT event_type, {half} AS w, {b} AS bin, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, {half}, {b}
),
tot AS (SELECT event_type, w, CAST(SUM(n) AS DOUBLE) AS t FROM binned GROUP BY event_type, w),
grid AS (
  -- ALL bins enumerated (not just observed ones) so the +0.5-per-bin
  -- smoothing denominator is consistent and probabilities sum to 1;
  -- totals LEFT-join so a type present in only ONE window — the most
  -- extreme drift — still reports (its missing window becomes the uniform
  -- smoothed distribution) instead of vanishing from the monitor
  SELECT tt.event_type, bins.bin,
         (COALESCE(r.n, 0) + 0.5) / (COALESCE(tr.t, 0.0) + {0.5 * PSI_BINS}) AS pr,
         (COALESCE(c.n, 0) + 0.5) / (COALESCE(tc.t, 0.0) + {0.5 * PSI_BINS}) AS pc
  FROM (SELECT DISTINCT event_type FROM binned) tt
  CROSS JOIN ({_ALLBINS}) bins
  LEFT JOIN tot tr ON tr.event_type = tt.event_type AND tr.w = 'ref'
  LEFT JOIN tot tc ON tc.event_type = tt.event_type AND tc.w = 'cur'
  LEFT JOIN binned r ON r.event_type = tt.event_type AND r.bin = bins.bin AND r.w = 'ref'
  LEFT JOIN binned c ON c.event_type = tt.event_type AND c.bin = bins.bin AND c.w = 'cur'
)
SELECT event_type,
       CAST(round(SUM((pc - pr) * ln(pc / pr)), 6) + 0.0 AS DOUBLE) AS psi,
       CASE WHEN SUM((pc - pr) * ln(pc / pr)) < 0.1 THEN 'stable'
            WHEN SUM((pc - pr) * ln(pc / pr)) < 0.25 THEN 'moderate'
            ELSE 'shifted' END AS verdict
FROM grid
GROUP BY event_type
ORDER BY event_type
"""


BIGRAM_LAMBDA = 0.7  # interpolation weight on the bigram term


def bigram_logprob_quality(d: str) -> str:
    """Interpolated bigram language-model quality score (the KenLM-lite
    upgrade over `unigram_logprob_quality`): each document's mean
    ln(λ·P(w2|w1) + (1-λ)·P(w2)) under the CORPUS bigram/unigram counts.
    P(w2|w1) = c(w1 w2)/c(w1), P(w2) = c(w2)/N. Shape: the bigram explode
    feeds a bigram-count dim and rejoins it; both unigram lookups join a
    vocab-sized dim (broadcast-able at any corpus scale) — document text
    never shuffles. Deterministic doc subset keeps the bench slice
    proportionate with the unigram variant for comparison. The LIKE '% %'
    guard (same as bigram_pmi_topk) drops word_ngrams' short-document
    fallback: a doc with <2 tokens emits itself as its only "bigram", whose
    split-part-2 lookup throws under Spark ANSI mode while DuckDB returns
    '' — an engine-divergence landmine without the guard."""
    bg = P.word_ngrams("text", 2, d)
    ug = P.word_ngrams("text", 1, d)
    if d == "spark":
        bgx = f"SELECT doc_id, g FROM documents LATERAL VIEW explode({bg}) t AS g WHERE doc_id % 4 = 0"
        ugx = f"SELECT doc_id, g FROM documents LATERAL VIEW explode({ug}) t AS g WHERE doc_id % 4 = 0"
    else:
        bgx = f"SELECT doc_id, unnest({bg}) AS g FROM documents WHERE doc_id % 4 = 0"
        ugx = f"SELECT doc_id, unnest({ug}) AS g FROM documents WHERE doc_id % 4 = 0"
    w1 = P.split_part1("bx.g", d)
    w2 = P.split_part_last("bx.g", 2, d)
    lam = BIGRAM_LAMBDA
    return f"""
WITH bx AS (SELECT * FROM ({bgx}) x0 WHERE g LIKE '% %'),
ux AS ({ugx}),
uc AS (SELECT g, CAST(COUNT(*) AS DOUBLE) AS c FROM ux GROUP BY g),
n AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM uc),
bc AS (SELECT g, CAST(COUNT(*) AS DOUBLE) AS c FROM bx GROUP BY g),
scored AS (
  SELECT bx.doc_id,
         SUM(ln({lam} * (bc.c / u1.c) + {1.0 - lam} * (u2.c / n.t))) / COUNT(*) AS lp,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams
  FROM bx
  JOIN bc ON bx.g = bc.g
  JOIN uc u1 ON {w1} = u1.g
  JOIN uc u2 ON {w2} = u2.g
  CROSS JOIN n
  GROUP BY bx.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(round(lp, 6) AS DOUBLE) AS avg_bigram_logprob,
       n_bigrams,
       CASE WHEN lp >= -5.0 THEN 'keep' ELSE 'filter' END AS verdict
FROM scored
ORDER BY doc_id
"""


# Dyadic weights (multiples of 1/16): every partial sum is exactly
# representable in binary, so Σ w·count is bit-identical on both engines
# REGARDLESS of float-addition order. With free-form literals (0.3, 1.2 ...)
# the engines' different summation orders produced ulp-level z drift, which
# the downstream bin/threshold amplified into whole-bin flips. Single source
# of truth lives with the operator (pipeline.curate_corpus gates on the same
# model).
from oaim_sandbox_spark.operators.classifier import (  # noqa: E402
    DEFAULT_BIAS as CLASSIFIER_BIAS,
    DEFAULT_WEIGHTS as CLASSIFIER_WEIGHTS,
)


def _classifier_score_ctes(d: str) -> str:
    """Shared CTE text (tok / wt / acc) for the classifier gate and its
    calibration audit — one definition so the serving query and the audit
    can never desynchronize."""
    toks = P.tokens("text", d)
    if d == "spark":
        tok = f"SELECT doc_id, tok FROM documents LATERAL VIEW explode({toks}) t AS tok"
    else:
        tok = f"SELECT doc_id, unnest({toks}) AS tok FROM documents"
    vals = ", ".join(f"('{t}', CAST({w} AS DOUBLE))" for t, w in CLASSIFIER_WEIGHTS)
    if d == "spark":
        wtab = f"SELECT col1 AS tok, col2 AS w FROM (VALUES {vals})"
    else:
        wtab = f"SELECT * FROM (VALUES {vals}) v(tok, w)"
    return f"""tok AS ({tok}),
wt AS ({wtab}),
acc AS (
  SELECT tok.doc_id, SUM(wt.w) AS z
  FROM tok JOIN wt ON tok.tok = wt.tok
  GROUP BY tok.doc_id
)"""


def classifier_quality_scores(d: str) -> str:
    """Serving side of the fastText-style linear quality gate
    (operators/classifier.py trains the weights; this applies them):
    score = sigmoid(bias + Σ w(tok)·count(tok)) per document, keep/filter at
    0.5. The weight table is model-sized (literal VALUES here — broadcast at
    any corpus scale); the token explode inner-joins it, so out-of-vocabulary
    tokens are dropped before the shuffle and the per-doc reduction is a
    grouped sum with map-side combine. Documents with zero in-vocabulary
    tokens score sigmoid(bias) via the left join back to the corpus."""
    return f"""
WITH {_classifier_score_ctes(d)}
SELECT doc.doc_id,
       CAST(round(1.0 / (1.0 + exp(-({CLASSIFIER_BIAS} + COALESCE(acc.z, 0.0)))), 6) AS DOUBLE) AS score,
       CASE WHEN {CLASSIFIER_BIAS} + COALESCE(acc.z, 0.0) >= 0.0
            THEN 'keep' ELSE 'filter' END AS verdict
FROM documents doc LEFT JOIN acc ON doc.doc_id = acc.doc_id
ORDER BY doc.doc_id
"""


def retrieval_eval_metrics(d: str) -> str:
    """Offline retrieval evaluation in-engine: recall@10, MRR@10 and
    binary-gain nDCG@10 per query over the exact cosine top-10, against a
    deterministic sparse qrel set (portable hash of (query, doc) — ~1/25 of
    the store relevant per query, engine-identical). This is how a 100 TB
    pipeline scores a retriever without exporting run files: the ranked list
    is the same one-scan-per-batch window as `knn_join_batch`; qrels and the
    ideal-DCG sequence explode are dim-sized per query. IDCG uses
    min(R, 10) terms so nDCG is exact, not clipped."""
    dist = distance_expr("e.embedding", P.to_double_array("q.qv", d), "COSINE", d)
    qrel = f"{P.hash_mod('concat(cast(q.query_id as string), chr(31), cast(e.vec_id as string))', d)} % 25 = 0"
    if d == "spark":
        iseq = "LATERAL VIEW explode(sequence(1, CAST(LEAST(r, 10) AS INT))) t AS i"
        idcg = f"SELECT query_id, SUM(1.0 / log2(i + 1)) AS idcg FROM (SELECT query_id, i FROM nrel {iseq}) s GROUP BY query_id"
    else:
        idcg = "SELECT query_id, SUM(1.0 / log2(i + 1)) AS idcg FROM (SELECT query_id, unnest(generate_series(1, LEAST(r, 10)::INT)) AS i FROM nrel) s GROUP BY query_id"
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 97 = 0),
rel AS (
  SELECT q.query_id, e.vec_id AS doc_id
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id AND {qrel}
),
ranked AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT q.query_id AS query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY {dist} ASC, e.vec_id ASC) AS rank
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> q.query_id
  ) s WHERE rank <= 10
),
nrel AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS r FROM rel GROUP BY query_id),
hits AS (
  SELECT ranked.query_id, ranked.rank
  FROM ranked JOIN rel ON ranked.query_id = rel.query_id AND ranked.neighbor_id = rel.doc_id
),
hagg AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
         MIN(rank) AS first_rank,
         SUM(1.0 / log2(rank + 1)) AS dcg
  FROM hits GROUP BY query_id
),
ideal AS ({idcg})
SELECT nrel.query_id,
       nrel.r AS n_relevant,
       CAST(COALESCE(hagg.n_hits, 0) AS BIGINT) AS hits_at_10,
       CAST(round(COALESCE(hagg.n_hits, 0) * 1.0 / nrel.r, 6) AS DOUBLE) AS recall_at_10,
       CAST(round(COALESCE(1.0 / hagg.first_rank, 0.0), 6) AS DOUBLE) AS mrr_at_10,
       CAST(round(COALESCE(hagg.dcg, 0.0) / ideal.idcg, 6) AS DOUBLE) AS ndcg_at_10
FROM nrel
JOIN ideal ON nrel.query_id = ideal.query_id
LEFT JOIN hagg ON nrel.query_id = hagg.query_id
ORDER BY nrel.query_id
"""


CMS_ROWS, CMS_WIDTH = 3, 512


def countmin_token_topk(d: str) -> str:
    """Count-min-sketch heavy hitters with an in-query exactness audit: the
    sketch is CMS_ROWS x CMS_WIDTH grouped counts (fixed-size mergeable
    state — the structure you'd keep per partition/window at 100 TB instead
    of a full token shuffle), estimates are the min over rows of the
    token's bucket counts, and the output compares the top-20 estimated
    tokens against their exact counts (overestimate >= 0 always, = 0 when
    no collision). Hashes are the portable md5 form so DuckDB builds the
    identical sketch. The exact join here is the audit; production keeps
    only the 1536-cell sketch."""
    toks = P.tokens("text", d)
    if d == "spark":
        tok = f"SELECT tok FROM documents LATERAL VIEW explode({toks}) t AS tok"
    else:
        tok = f"SELECT unnest({toks}) AS tok FROM documents"
    rows = []
    for r in range(CMS_ROWS):
        h = P.hash_mod(f"concat('cms{r}:', tok)", d)
        rows.append(f"SELECT {r} AS h_row, {h} % {CMS_WIDTH} AS bucket, tok FROM tok")
    hashed = " UNION ALL ".join(rows)
    return f"""
WITH tok AS ({tok}),
hashed AS ({hashed}),
sketch AS (
  SELECT h_row, bucket, CAST(COUNT(*) AS BIGINT) AS c
  FROM hashed GROUP BY h_row, bucket
),
cand AS (SELECT DISTINCT h_row, bucket, tok FROM hashed),
est AS (
  SELECT cand.tok, MIN(sketch.c) AS est
  FROM cand JOIN sketch ON cand.h_row = sketch.h_row AND cand.bucket = sketch.bucket
  GROUP BY cand.tok
),
exact AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY tok)
SELECT est.tok, CAST(est.est AS BIGINT) AS est_count, exact.n AS exact_count,
       CAST(est.est - exact.n AS BIGINT) AS overestimate
FROM est JOIN exact ON est.tok = exact.tok
ORDER BY est_count DESC, est.tok ASC
LIMIT 20
"""


ECE_BINS = 8  # margin bins over z in [-8, 8), width 2 (dyadic edges)


def classifier_calibration_ece(d: str) -> str:
    """Calibration audit for the linear quality gate: documents are scored
    with the same sigmoid-of-token-weights model as
    `classifier_quality_scores`, binned by MARGIN (z, clamped to [-8,8),
    width-2 bins), and each bin compares mean confidence sigmoid(z) against
    the empirical rate of a deterministic reference label (lang = 'en' —
    the gate's proxy target here). The trailing TOTAL row is the expected
    calibration error Σ (n_b/N)·|acc_b − conf_b|. Binning on z rather than
    sigmoid(z) keeps the bin assignment engine-exact: z is a sum of dyadic
    weights (bit-identical under any addition order) while exp() differs by
    ulps across libms — averaging inside a bin then rounding absorbs that;
    flooring it into bins would not. Everything after the per-doc score is
    bin-sized; a production gate runs this audit on every refresh to catch
    silent classifier drift without exporting scores."""
    return f"""
WITH {_classifier_score_ctes(d)},
scored AS (
  SELECT doc.doc_id,
         {CLASSIFIER_BIAS} + COALESCE(acc.z, 0.0) AS z,
         1.0 / (1.0 + exp(-({CLASSIFIER_BIAS} + COALESCE(acc.z, 0.0)))) AS score,
         CAST(CASE WHEN doc.lang = 'en' THEN 1 ELSE 0 END AS DOUBLE) AS y
  FROM documents doc LEFT JOIN acc ON doc.doc_id = acc.doc_id
),
bins AS (
  SELECT CAST(LEAST({ECE_BINS - 1}, GREATEST(0, CAST(floor((z + 8.0) / 2.0) AS INT))) AS INT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         AVG(score) AS conf, AVG(y) AS acc_rate
  FROM scored GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS nn FROM bins)
SELECT CAST(bin AS INT) AS bin, n,
       CAST(round(conf, 6) AS DOUBLE) AS mean_confidence,
       CAST(round(acc_rate, 6) AS DOUBLE) AS empirical_rate,
       CAST(round(abs(acc_rate - conf), 6) AS DOUBLE) AS gap
FROM bins
UNION ALL
SELECT -1, CAST(tot.nn AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(round(SUM((bins.n / tot.nn) * abs(bins.acc_rate - bins.conf)), 6) AS DOUBLE)
FROM bins CROSS JOIN tot GROUP BY tot.nn
ORDER BY bin
"""


def corpus_version_diff(d: str) -> str:
    """Snapshot diff between two corpus versions — the audit a curation
    pipeline emits on every refresh (what changed since the last export?).
    v2 is derived deterministically from v1 (portable-hash buckets: ~1/17
    removed, ~1/13 modified, ~1/19 new docs), then a full outer join on
    doc_id comparing content hashes classifies every id as
    added/removed/modified/unchanged and rolls counts up per source. At
    scale this is one co-partitioned join on the id (both versions written
    bucketed by doc_id make it exchange-free) and the rollup is dim-sized;
    the content comparison ships 60-bit hashes, never the text."""
    h = P.hash64("text", d)
    hmod = P.hash_mod("concat('vdiff:', cast(doc_id as string))", d)
    return f"""
WITH v1 AS (SELECT doc_id, source, {h} AS th FROM documents),
v2 AS (
  SELECT doc_id, source,
         CASE WHEN {hmod} % 13 = 0 THEN {P.hash64("concat(text, ' v2')", d)} ELSE {h} END AS th
  FROM documents WHERE {hmod} % 17 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, source, {P.hash64("concat('new:', text)", d)} AS th
  FROM documents WHERE {hmod} % 19 = 0
),
joined AS (
  SELECT COALESCE(v1.source, v2.source) AS source,
         CASE WHEN v1.doc_id IS NULL THEN 'added'
              WHEN v2.doc_id IS NULL THEN 'removed'
              WHEN v1.th <> v2.th THEN 'modified'
              ELSE 'unchanged' END AS status
  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
)
SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n
FROM joined
GROUP BY source, status
ORDER BY source, status
"""


TEMPLATES["classifier_quality_scores"] = classifier_quality_scores
TEMPLATES["retrieval_eval_metrics"] = retrieval_eval_metrics
TEMPLATES["countmin_token_topk"] = countmin_token_topk
COLBERT_QUERY_TEXT = "table scan query fast"
COLBERT_DIM, COLBERT_MAX_DOC_TOKENS = 8, 12


def colbert_maxsim_topk(d: str) -> str:
    """Late-interaction retrieval (ColBERT-style MaxSim): every token of the
    query and of each document gets its own embedding; a document's score is
    Σ over query tokens of the MAX dot-product against any document token.
    Token vectors are the deterministic portable mock embedder, so both
    engines build identical multi-vector representations. Shape: the doc
    side explodes to (doc, token, vector) ONCE (capped at 12 tokens/doc —
    the fixed-length token budget real late-interaction stores use), the
    query side is a handful of rows that cross-join (broadcast) onto it;
    the per-(doc, qtok) MAX and per-doc SUM are two grouped aggs with
    map-side combine. At 100 TB the doc-token relation is the stored index,
    pre-partitioned by token bucket (IVF/PLAID-style) so the cross join
    becomes a pruned bucket join; the deterministic subset here keeps the
    bench slice proportionate."""
    toks = P.tokens("text", d)
    qtoks = P.tokens(f"'{COLBERT_QUERY_TEXT}'", d)
    emb_dt = P.mock_embed("dt", COLBERT_DIM, d)
    emb_qt = P.mock_embed("qt", COLBERT_DIM, d)
    dotp = P.dot("dv", "qv", d)
    if d == "spark":
        dtok = (
            f"SELECT doc_id, dt FROM (SELECT doc_id, slice({toks}, 1, {COLBERT_MAX_DOC_TOKENS}) AS tk "
            f"FROM documents WHERE doc_id % 5 = 0) s LATERAL VIEW explode(tk) t AS dt"
        )
        qtok = f"SELECT qt FROM (SELECT {qtoks} AS qs) q LATERAL VIEW explode(qs) t AS qt"
    else:
        dtok = (
            f"SELECT doc_id, unnest(list_slice({toks}, 1, {COLBERT_MAX_DOC_TOKENS})) AS dt "
            f"FROM documents WHERE doc_id % 5 = 0"
        )
        qtok = f"SELECT unnest({qtoks}) AS qt"
    return f"""
WITH dvec AS (SELECT doc_id, dt, {emb_dt} AS dv FROM ({dtok}) t0),
qvec AS (SELECT qt, {emb_qt} AS qv FROM ({qtok}) t1),
sim AS (
  -- per-(doc, qtok) best similarity, quantized to integer micro-units so the
  -- cross-token SUM is exact integer math (float SUM order is engine- and
  -- run-dependent; MAX and the fold-form dot are already bit-identical)
  SELECT dvec.doc_id, qvec.qt,
         CAST(floor(MAX({dotp}) * 1000000.0 + 0.5) AS BIGINT) AS best_micro
  FROM dvec CROSS JOIN qvec
  GROUP BY dvec.doc_id, qvec.qt
)
SELECT doc_id, CAST(SUM(best_micro) / 1000000.0 AS DOUBLE) AS maxsim_score
FROM sim
GROUP BY doc_id
ORDER BY maxsim_score DESC, doc_id ASC
LIMIT 10
"""


BFS_MAX_HOPS = 4


def reachability_bfs(d: str) -> str:
    """Recursive-CTE graph reachability (Spark 4 WITH RECURSIVE — the
    engine's native iterate-until-bound form, vs the unrolled-CTE pagerank
    and the driver-loop connected components): min-hop distance from source
    node 0 over the same deterministic hash link graph as `pagerank_3iter`,
    bounded at 4 hops. UNION ALL + hop bound keeps the recursion
    engine-portable (recursive-UNION dedup semantics differ); the closing
    MIN(hop) aggregation collapses revisits. Each recursion step is one
    (frontier ⨝ edges) shuffle keyed on src — the textbook BFS data layout:
    pre-partition edges by src and only the (node, hop) frontier moves.
    Frontier growth is bounded by out-degree^hops; for unbounded diameters
    use the convergence-loop operator (dedup.connected_components)."""
    nn = "(SELECT CAST(COUNT(*) AS BIGINT) FROM documents WHERE doc_id < 100)"
    ks = (
        "SELECT explode(sequence(1, 3)) AS k"
        if d == "spark"
        else "SELECT unnest(generate_series(1, 3)) AS k"
    )
    sid, sk = _str("doc_id", d), _str("k", d)
    link = f"({P.hash64(f'concat({sid}, chr(35), {sk})', d)} % {nn})"
    return f"""
WITH RECURSIVE walk(node, hop) AS (
  SELECT CAST(0 AS BIGINT) AS node, 0 AS hop
  UNION ALL
  SELECT e.dst AS node, w.hop + 1 AS hop
  FROM walk w
  JOIN (
    SELECT doc_id AS src, {link} AS dst
    FROM documents CROSS JOIN ({ks}) t
    WHERE doc_id < 100
  ) e ON e.src = w.node
  WHERE w.hop < {BFS_MAX_HOPS}
)
SELECT node, CAST(MIN(hop) AS INT) AS dist
FROM walk
GROUP BY node
ORDER BY dist, node
"""


TEMPLATES["classifier_calibration_ece"] = classifier_calibration_ece
TEMPLATES["corpus_version_diff"] = corpus_version_diff
K_ANON = 5


def k_anonymity_audit(d: str) -> str:
    """k-anonymity audit before a corpus release: group documents by their
    quasi-identifier tuple (lang, source, length decile) and flag every
    equivalence class smaller than k=5 — the classes where a released row is
    re-identifiable. One grouped count over a narrow projection plus a
    class-size histogram rollup; the flagged classes (not the documents)
    come back, so output is dim-sized at any corpus scale. Complements the
    PII scrub (`pii_redaction_stats`): scrubbing removes direct identifiers,
    this audits the quasi-identifiers that remain."""
    # integer division: CAST(double AS INT) truncates on Spark but rounds on
    # DuckDB — div/// keeps the decile engine-exact
    dec = f"CAST(LEAST(9, n_chars {'div' if d == 'spark' else '//'} 100) AS INT)"
    return f"""
WITH classes AS (
  SELECT lang, source, {dec} AS len_decile, CAST(COUNT(*) AS BIGINT) AS class_size
  FROM documents
  GROUP BY lang, source, {dec}
)
SELECT lang, source, len_decile, class_size,
       CASE WHEN class_size < {K_ANON} THEN 1 ELSE 0 END AS violates_k
FROM classes
WHERE class_size < {K_ANON}
ORDER BY lang, source, len_decile
"""


DP_EPSILON = 1.0


def dp_noisy_counts(d: str) -> str:
    """Laplace-mechanism count release with SEEDED noise (ε=1, sensitivity
    1): per-(source, lang) document counts plus Laplace(1/ε) noise derived
    from the portable hash via inverse-CDF — u = H(key)/2^60 ∈ (0,1),
    noise = -sign(u-0.5)·ln(1-2|u-0.5|)/ε. The hash seed makes the release
    reproducible and engine-identical (and therefore NOT differentially
    private — a real release swaps the hash for a CSPRNG draw; the query
    certifies the mechanism's plumbing: per-class noise, post-processing
    max(0, round(·)), and that no raw count leaves unperturbed).

    The caveat is flagged IN THE OUTPUT: a literal `mechanism` column marks
    every row as demo noise, so the release cannot be mistaken for real DP
    however far it travels from this docstring. `dp_noisy_counts_csprng`
    below is the real-noise variant (pytest-only: non-deterministic by
    design, so no oracle)."""
    key = "concat('dp:', source, ':', lang)"
    u = f"(({P.hash64(key, d)} % 1000000) + 0.5) / 1000000.0"
    return f"""
WITH c AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY source, lang
),
noise AS (
  SELECT source, lang, n, {u} AS u FROM c
)
SELECT source, lang,
       CAST(GREATEST(0, CAST(round(n + (CASE WHEN u < 0.5 THEN 1.0 ELSE -1.0 END)
            * ln(1.0 - 2.0 * abs(u - 0.5)) / {DP_EPSILON}, 0) AS BIGINT)) AS BIGINT) AS noisy_count,
       'laplace-seeded-hash-demo (NOT differentially private)' AS mechanism
FROM noise
ORDER BY source, lang
"""


def dp_noisy_counts_csprng(spark: SparkSession, sf_dir: str, epsilon: float = DP_EPSILON) -> DataFrame:
    """Real-noise Laplace release: same counts, same post-processing as
    `dp_noisy_counts`, but the noise is drawn from an OS-entropy-seeded
    generator per Arrow batch (mapInPandas), so the release is actually
    unpredictable. Non-deterministic by design -> no DuckDB oracle; pytest
    asserts the post-processing invariants (non-negative integers, schema,
    mechanism flag, noise actually varies across runs). Executor-side noise
    generation: each batch draws independently, no driver coordination."""
    import pandas as pd

    register_views(spark, sf_dir, tables=("documents",))
    counts = spark.sql(
        "SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY source, lang"
    )

    def add_noise(batches):
        import os as _os

        import numpy as _np

        rng = _np.random.default_rng(int.from_bytes(_os.urandom(16), "big"))
        for pdf in batches:
            lap = rng.laplace(0.0, 1.0 / epsilon, size=len(pdf))
            noisy = _np.maximum(0, _np.round(pdf["n"].to_numpy() + lap)).astype("int64")
            yield pd.DataFrame({
                "source": pdf["source"], "lang": pdf["lang"],
                "noisy_count": noisy,
                "mechanism": f"laplace-csprng eps={epsilon}",
            })

    return counts.mapInPandas(
        add_noise, "source STRING, lang STRING, noisy_count BIGINT, mechanism STRING"
    )


TEMPLATES["colbert_maxsim_topk"] = colbert_maxsim_topk
TEMPLATES["reachability_bfs"] = reachability_bfs
def event_pattern_match(d: str) -> str:
    """Sequence-pattern matching over event streams (the MATCH_RECOGNIZE
    workload, relationally): each user's time-ordered event types collapse
    to a symbol string (c/v/e/s/p), and a regex counts conversion patterns —
    here 'click, any non-purchase browsing, then purchase' (c[ve]*p). One
    key-partitioned sort inside a grouped collect (sorted struct array →
    symbols, so the order is deterministic, not collect_list luck), then a
    per-row regex — the sequence never leaves its user partition. At 100 TB
    sessions are bounded, so the symbol string is short regardless of
    corpus size."""
    sym = ("CASE event_type WHEN 'click' THEN 'c' WHEN 'view' THEN 'v' "
           "WHEN 'error' THEN 'e' WHEN 'signup' THEN 's' ELSE 'p' END")
    if d == "spark":
        seq = ("array_join(transform(sort_array(collect_list(struct(ts_us, event_id, sym))), "
               "s -> s.sym), '')")
    else:
        seq = "string_agg(sym, '' ORDER BY ts_us, event_id)"
    pat = "c[ve]*p"
    n_match = P.regexp_count_portable("seq", pat, d)
    return f"""
WITH ev AS (
  SELECT user_id, {_ts_us(d)} AS ts_us, event_id, {sym} AS sym
  FROM events WHERE user_id % 5 = 0
),
seqs AS (
  SELECT user_id, {seq} AS seq
  FROM ev GROUP BY user_id
)
SELECT user_id,
       CAST(length(seq) AS INT) AS n_events,
       CAST({n_match} AS INT) AS n_conversions
FROM seqs
WHERE {n_match} > 0
ORDER BY user_id
"""


def weekly_cohort_retention(d: str) -> str:
    """Cohort retention: users grouped by first-seen week; each later week's
    active share of that cohort — the canonical product-analytics triangle,
    and for a training pipeline the shape of 'does a crawl source keep
    contributing'. Two grouped aggs (first-seen per user, then distinct
    actives per (cohort, week)) joined to cohort sizes; weeks are integer
    epoch-week indexes (div — engine-exact), output is cohorts×weeks
    dim-sized."""
    wk = f"CAST(({_ts_us(d)}) {'div' if d == 'spark' else '//'} {7 * 86400 * 1_000_000} AS BIGINT)"
    return f"""
WITH ev AS (SELECT user_id, {wk} AS wk FROM events),
first_seen AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY user_id),
cohort_size AS (SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS n_users FROM first_seen GROUP BY cohort_wk),
active AS (
  SELECT f.cohort_wk, e.wk, CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
  FROM ev e JOIN first_seen f ON e.user_id = f.user_id
  GROUP BY f.cohort_wk, e.wk
)
SELECT a.cohort_wk, CAST(a.wk - a.cohort_wk AS INT) AS week_offset,
       c.n_users AS cohort_users, a.n_active,
       CAST(round(a.n_active * 1.0 / c.n_users, 6) AS DOUBLE) AS retention
FROM active a JOIN cohort_size c ON a.cohort_wk = c.cohort_wk
ORDER BY a.cohort_wk, week_offset
"""


def ab_test_zscore(d: str) -> str:
    """Two-proportion z-test in-engine: users are hash-assigned to arms A/B
    (deterministic, the bucketing a real experiment framework uses),
    conversion = a high-value purchase (partial-rate event, so the pooled
    variance is non-degenerate); the query emits both arms'
    rates, the pooled z statistic, and the |z| >= 1.96 significance verdict.
    One grouped agg per user then one 2-row rollup — experiment readouts at
    any scale are a full-scan agg, never an export."""
    key = f"concat({_str('user_id', d)}, '-ab')"
    arm = f"CASE WHEN {P.hash_mod(key, d)} % 2 = 0 THEN 'A' ELSE 'B' END"
    return f"""
WITH u AS (
  SELECT user_id,
         {arm} AS arm,
         MAX(CASE WHEN event_type = 'purchase' AND value >= 150.0 THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
arms AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(converted) AS BIGINT) AS conv
  FROM u GROUP BY arm
),
wide AS (
  SELECT MAX(CASE WHEN arm = 'A' THEN n END) AS na,
         MAX(CASE WHEN arm = 'A' THEN conv END) AS ca,
         MAX(CASE WHEN arm = 'B' THEN n END) AS nb,
         MAX(CASE WHEN arm = 'B' THEN conv END) AS cb
  FROM arms
)
, z AS (
  SELECT na, ca, nb, cb,
         CAST(ca AS DOUBLE) / na AS pa,
         CAST(cb AS DOUBLE) / nb AS pb,
         CAST(ca + cb AS DOUBLE) / (na + nb) AS pp
  FROM wide
)
SELECT na, ca, nb, cb,
       CAST(round(pa, 6) AS DOUBLE) AS rate_a,
       CAST(round(pb, 6) AS DOUBLE) AS rate_b,
       CAST(round((pa - pb) / sqrt(pp * (1.0 - pp) * (CAST(1 AS DOUBLE) / na + CAST(1 AS DOUBLE) / nb)), 6) AS DOUBLE) AS z,
       CASE WHEN na IS NULL OR nb IS NULL OR pp IS NULL OR pp <= 0.0 OR pp >= 1.0
            THEN 'insufficient_data'
            WHEN abs((pa - pb) / sqrt(pp * (1.0 - pp) * (CAST(1 AS DOUBLE) / na + CAST(1 AS DOUBLE) / nb))) >= 1.96
            THEN 'significant' ELSE 'not_significant' END AS verdict
FROM z
"""


def unpivot_monthly_metrics(d: str) -> str:
    """Native UNPIVOT (wide→long reshaping, the inverse of
    `pivot_event_counts`): monthly order metrics computed wide in one agg,
    then unpivoted to (month, metric, value) rows — the long shape
    monitoring/reporting sinks want. Both engines share the ANSI
    UNPIVOT (val FOR col IN (...)) clause; everything after the first
    grouped agg is months×metrics dim-sized."""
    mon = ("date_format(o_orderdate, 'yyyy-MM')" if d == "spark"
           else "strftime(o_orderdate, '%Y-%m')")
    return f"""
WITH wide AS (
  SELECT {mon} AS month,
         CAST(COUNT(*) AS DOUBLE) AS n_orders,
         CAST(round({P.exact_avg('o_totalprice', d, 2)}, 6) AS DOUBLE) AS avg_price,
         CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
  FROM orders GROUP BY {mon}
)
SELECT month, metric, CAST(value AS DOUBLE) AS value
FROM wide UNPIVOT (value FOR metric IN (n_orders, avg_price, max_price))
ORDER BY month, metric
"""


def lateral_top_customers(d: str) -> str:
    """Correlated LATERAL subquery (per-row dependent join — the other way
    to write grouped top-k besides the window form in
    `topk_docs_per_lang`): for every nation, the top-2 customers by account
    balance. Catalyst decorrelates the LATERAL into a ranked join, so the
    physical plan matches the window form — this certifies the SYNTAX
    surface, and the deterministic tiebreak makes it oracle-exact."""
    return """
SELECT n.n_name AS nation, t.c_custkey, CAST(round(t.c_acctbal, 2) AS DOUBLE) AS acctbal
FROM nation n,
LATERAL (
  SELECT c_custkey, c_acctbal
  FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey ASC
  LIMIT 2
) t
ORDER BY nation, acctbal DESC, t.c_custkey
"""


def cusum_changepoint(d: str) -> str:
    """Changepoint detection on the event stream (CUSUM): daily event counts,
    cumulative sum of deviations from the overall mean, and the day where
    |S_t| peaks — the classic single-changepoint estimator a pipeline runs
    when ingest volume silently shifts. Day series is dim-sized after one
    grouped count; the CUSUM is a single unbounded-preceding window over it;
    the argmax is a rank over the same dim — everything after the first agg
    is days-sized at any event scale."""
    day = f"CAST(({_ts_us(d)}) {'div' if d == 'spark' else '//'} {86400 * 1_000_000} AS BIGINT)"
    return f"""
WITH daily AS (
  SELECT {day} AS day, CAST(COUNT(*) AS DOUBLE) AS n
  FROM events GROUP BY {day}
),
m AS (SELECT AVG(n) AS mu FROM daily),
cusum AS (
  SELECT daily.day, daily.n,
         SUM(daily.n - m.mu) OVER (ORDER BY daily.day ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM daily CROSS JOIN m
),
ranked AS (
  SELECT day, n, s,
         row_number() OVER (ORDER BY abs(s) DESC, day ASC) AS r
  FROM cusum
)
SELECT day AS changepoint_day,
       CAST(round(s, 6) AS DOUBLE) AS cusum_peak,
       CAST(n AS BIGINT) AS day_count
FROM ranked WHERE r = 1
"""


def dow_seasonality(d: str) -> str:
    """Day-of-week seasonal profile of the event stream: per-dow mean daily
    count, its share of the weekly total, and the deviation from a flat
    week — the decomposition a monitor subtracts before alerting on volume
    anomalies (otherwise every weekend pages). Two dim-sized aggs; dow is
    computed from the epoch-day index (identical mod arithmetic on both
    engines — engine dayofweek() functions disagree on week start)."""
    day = f"CAST(({_ts_us(d)}) {'div' if d == 'spark' else '//'} {86400 * 1_000_000} AS BIGINT)"
    return f"""
WITH daily AS (
  SELECT {day} AS day, CAST(COUNT(*) AS DOUBLE) AS n
  FROM events GROUP BY {day}
),
bydow AS (
  SELECT CAST(day % 7 AS INT) AS dow, AVG(n) AS mean_count, CAST(COUNT(*) AS BIGINT) AS n_days
  FROM daily GROUP BY CAST(day % 7 AS INT)
),
tot AS (SELECT SUM(mean_count) AS wk FROM bydow)
SELECT b.dow, CAST(round(b.mean_count, 6) AS DOUBLE) AS mean_count, b.n_days,
       CAST(round(b.mean_count / t.wk, 6) AS DOUBLE) AS share_of_week,
       CAST(round(b.mean_count / (t.wk / 7.0) - 1.0, 6) AS DOUBLE) AS vs_flat_week
FROM bydow b CROSS JOIN tot t
ORDER BY b.dow
"""


TEMPLATES["unpivot_monthly_metrics"] = unpivot_monthly_metrics
TEMPLATES["lateral_top_customers"] = lateral_top_customers
def bigram_pmi_topk(d: str) -> str:
    """Top token ASSOCIATIONS by pointwise mutual information — the
    collocation measure (`bigram_topk` ranks raw frequency; PMI ranks
    surprise: ln(p(ab)/(p(a)p(b)))). Min-count floor keeps the estimator out
    of the rare-pair noise regime. One bigram explode + one unigram explode,
    each collapsing to vocab-sized dims that join back — text never
    shuffles (the bigram explode feeds ONE counted relation that serves
    both the floored pair table and the normalization total); classic
    phrase-mining / tokenizer-merge-candidate signal. The LIKE '% %' guard
    drops word_ngrams' short-document fallback (a doc with <2 tokens emits
    itself as its only "bigram"), which would otherwise pollute both the
    pair counts and the normalization total."""
    bg = P.word_ngrams("text", 2, d)
    ug = P.word_ngrams("text", 1, d)
    if d == "spark":
        bgx = f"SELECT g FROM documents LATERAL VIEW explode({bg}) t AS g"
        ugx = f"SELECT g FROM documents LATERAL VIEW explode({ug}) t AS g"
    else:
        bgx = f"SELECT unnest({bg}) AS g FROM documents"
        ugx = f"SELECT unnest({ug}) AS g FROM documents"
    w1 = P.split_part1("bc.g", d)
    w2 = P.split_part_last("bc.g", 2, d)
    return f"""
WITH ba AS (SELECT g, CAST(COUNT(*) AS DOUBLE) AS c FROM ({bgx}) x
            WHERE g LIKE '% %' GROUP BY g),
bc AS (SELECT g, c FROM ba WHERE c >= 5),
uc AS (SELECT g, CAST(COUNT(*) AS DOUBLE) AS c FROM ({ugx}) x GROUP BY g),
nb AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM ba),
nu AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM uc)
SELECT bc.g AS bigram, CAST(bc.c AS BIGINT) AS n,
       CAST(round(ln((bc.c / nb.t) / ((u1.c / nu.t) * (u2.c / nu.t))), 6) AS DOUBLE) AS pmi
FROM bc
JOIN uc u1 ON {w1} = u1.g
JOIN uc u2 ON {w2} = u2.g
CROSS JOIN nb CROSS JOIN nu
ORDER BY pmi DESC, bigram ASC
LIMIT 20
"""


def user_burstiness(d: str) -> str:
    """Inter-arrival burstiness per user — the bot/automation signal crawl
    curation filters on: machines fire at near-constant intervals (CV→0),
    humans are bursty (CV≈1+). Per user: LAG gives gaps, population
    stddev/mean of gaps gives CV — computed via the explicit
    sqrt(E[x²]−E[x]²) form because engines disagree on STDDEV's
    sample/population default. Key-partitioned window + one grouped agg;
    the >=20-event floor keeps the estimator stable."""
    return f"""
WITH gaps AS (
  SELECT user_id,
         ({_ts_us(d)} - LAG({_ts_us(d)}) OVER (PARTITION BY user_id ORDER BY {_ts_us(d)} ASC, event_id ASC)) / 1000000.0 AS gap_s
  FROM events
),
agg AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         AVG(gap_s) AS mu, AVG(gap_s * gap_s) AS m2
  FROM gaps WHERE gap_s IS NOT NULL
  GROUP BY user_id HAVING COUNT(*) >= 20
)
SELECT user_id, n_gaps,
       CAST(round(mu, 6) AS DOUBLE) AS mean_gap_s,
       CAST(round(sqrt(GREATEST(m2 - mu * mu, 0.0)), 6) AS DOUBLE) AS std_gap_s,
       CAST(round(sqrt(GREATEST(m2 - mu * mu, 0.0)) / mu, 6) AS DOUBLE) AS cv,
       CASE WHEN sqrt(GREATEST(m2 - mu * mu, 0.0)) / mu < 0.3 THEN 'machine-like' ELSE 'bursty' END AS verdict
FROM agg
ORDER BY cv ASC, user_id ASC
LIMIT 25
"""


TEMPLATES["cusum_changepoint"] = cusum_changepoint
TEMPLATES["dow_seasonality"] = dow_seasonality
def federated_label_topk(d: str) -> str:
    """Oracle twin of `retrieval.federated_topk`'s merge semantics: the
    label partitions of the embeddings table stand in for per-model stores;
    each contributes its LOCAL exact cosine top-3 (rank window per label =
    TakeOrderedAndProject per store), and the global re-rank keeps the best
    5 with provenance. Proves the two-stage local-k/global-k cut is
    lossless: the global winner set matches a flat top-5 whenever every
    store returned >= its contribution (k_local >= k_global guarantees
    it).

    r14 opt (the hard_negative_mining window-key pattern): the rank window
    orders by the PROJECTED distance column from a subquery instead of
    re-keying on the round(dist) expression — the old shape evaluated the
    cosine fold twice per store row (projection + window sort key; plan
    showed 2 aggregate(zip_with) sites, now 1). Ordering by the identical
    rounded value, both dialects; pinned against the frozen pre-change
    DuckDB oracle (tests/fixtures/r14_federated_old_oracle.json)."""
    dist = distance_expr("e.embedding", P.to_double_array("q.qv", d), "COSINE", d)
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.label AS label, e.vec_id AS vec_id, round({dist}, 6) AS distance
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> 0
),
local_k AS (
  SELECT label, vec_id, distance FROM (
    SELECT label, vec_id, distance,
           row_number() OVER (PARTITION BY label ORDER BY distance ASC, vec_id ASC) AS r
    FROM scored
  ) s WHERE r <= 3
)
SELECT CAST(label AS INT) AS store_label, vec_id, CAST(distance AS DOUBLE) AS distance
FROM local_k
ORDER BY distance ASC, store_label ASC, vec_id ASC
LIMIT 5
"""


TEMPLATES["bigram_pmi_topk"] = bigram_pmi_topk
TEMPLATES["user_burstiness"] = user_burstiness
def near_dup_rate_by_source(d: str) -> str:
    """Duplication ATTRIBUTION: the simhash near-dup pair graph rolled up to
    (source_a, source_b) — which domain pairs contribute the duplication a
    curation run removes (intra-source templating vs cross-source
    syndication), with each side's pair rate against its document count. The
    pair graph is the same banded plan as `simhash_near_pairs`; attribution
    adds two dim joins (doc→source) and a sources² rollup — audit output is
    dim-sized at any corpus scale."""
    bands_sql, select_sql = _simhash_pairs_parts(d)
    return f"""
WITH fps AS ({_simhash_fps_sql(d)}),
banded AS ({bands_sql}),
pairs AS ({select_sql}),
attributed AS (
  SELECT LEAST(da.source, db.source) AS source_a,
         GREATEST(da.source, db.source) AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM pairs v
  JOIN documents da ON v.doc_a = da.doc_id
  JOIN documents db ON v.doc_b = db.doc_id
  GROUP BY LEAST(da.source, db.source), GREATEST(da.source, db.source)
),
src_n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source)
SELECT a.source_a, a.source_b, a.n_pairs,
       CAST(CASE WHEN a.source_a = a.source_b THEN 1 ELSE 0 END AS INT) AS intra_source,
       CAST(round(a.n_pairs * 1.0 / (x.n_docs * y.n_docs), 6) AS DOUBLE) AS pair_rate
FROM attributed a
JOIN src_n x ON a.source_a = x.source
JOIN src_n y ON a.source_b = y.source
ORDER BY a.n_pairs DESC, a.source_a, a.source_b
LIMIT 30
"""


TEMPLATES["federated_label_topk"] = federated_label_topk
TEMPLATES["near_dup_rate_by_source"] = near_dup_rate_by_source
TEMPLATES["k_anonymity_audit"] = k_anonymity_audit
TEMPLATES["dp_noisy_counts"] = dp_noisy_counts
def point_in_time_join(d: str) -> str:
    """Point-in-time (leakage-safe) feature join — the feature-store
    primitive behind training-set assembly: each click event is enriched
    with the user's purchase state AS OF the event time (the SCD2 interval
    row covering the event), never a later value. Intervals come from the
    same LEAD build as `scd2_purchase_history`; the interval join is an
    equi-join on the user plus a range predicate, so it shuffles once on
    user_id and resolves ranges inside the partition (at scale: sort both
    sides within the key partition and merge — the asof_join operator is
    the generalized form). LEFT join keeps pre-first-purchase events with
    NULL state (the honest cold-start representation, not a leaked future
    value)."""
    return f"""
WITH hist AS (
  SELECT user_id, {_ts_us(d)} AS valid_from, value,
         COALESCE(LEAD({_ts_us(d)}) OVER (PARTITION BY user_id ORDER BY {_ts_us(d)} ASC, event_id ASC),
                  CAST(9223372036854775807 AS BIGINT)) AS valid_to
  FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT event_id, user_id, {_ts_us(d)} AS ts_us
  FROM events WHERE event_type = 'click' AND user_id % 9 = 0
)
SELECT c.event_id, c.user_id, CAST(c.ts_us AS BIGINT) AS ts_us,
       CAST(round(h.value, 6) AS DOUBLE) AS purchase_state,
       CAST(CASE WHEN h.user_id IS NULL THEN 1 ELSE 0 END AS INT) AS cold_start
FROM clicks c
LEFT JOIN hist h
  ON c.user_id = h.user_id AND h.valid_from <= c.ts_us AND c.ts_us < h.valid_to
ORDER BY c.user_id, c.ts_us, c.event_id
"""


TEMPLATES["event_pattern_match"] = event_pattern_match
TEMPLATES["weekly_cohort_retention"] = weekly_cohort_retention
TEMPLATES["ab_test_zscore"] = ab_test_zscore
TEMPLATES["point_in_time_join"] = point_in_time_join
TEMPLATES["repeated_span_stats"] = repeated_span_stats
TEMPLATES["data_quality_profile"] = data_quality_profile
TEMPLATES["psi_value_drift"] = psi_value_drift
TEMPLATES["bigram_logprob_quality"] = bigram_logprob_quality
COMPUTE_ONCE["repeated_span_stats"] = ("grams",)


# --- round 6: sparse lexical similarity + event co-movement ---------------

TFIDF_NGRAM = 3          # word-shingle term unit (chars of context per term)
TFIDF_MAX_DF_FRAC = 0.05  # max_df stop-shingle cutoff (sklearn max_df shape)
TFIDF_PAIR_THRESHOLD = 0.06


def _tfidf_w_sql(d: str) -> str:
    """Pruned tf-idf weight relation w(doc_id, t, df, w) over `documents` —
    delegates to the parameterized builder in operators/text_analysis.py
    (byte-identical output for these arguments, pinned by
    tests/test_text_analysis.py, so the r6-certified templates that embed
    this SQL are unchanged)."""
    return TA.tfidf_weights_sql(
        d, rel="documents", text_col="text", id_col="doc_id",
        ngram=TFIDF_NGRAM, max_df_frac=TFIDF_MAX_DF_FRAC,
    )


def _tfidf_final_sql(d: str, rel: str = "w") -> str:
    """Norms + postings self-join cosine over the weight relation `rel`.
    The df > 1 guard (one side suffices — the equi-join fixes the term, so
    both sides share df) keeps singleton terms out of the join entirely:
    they cannot co-occur, but they DO count toward the norms, so a document
    full of unique shingles scores low against everything — the correct
    tf-idf semantics."""
    return f"""
WITH norms AS (SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM {rel} GROUP BY doc_id),
dp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w * b.w) AS dp
  FROM {rel} a JOIN {rel} b ON a.t = b.t AND a.doc_id < b.doc_id
  WHERE a.df > 1
  GROUP BY a.doc_id, b.doc_id
)
SELECT CAST(dp.doc_a AS BIGINT) AS doc_a, CAST(dp.doc_b AS BIGINT) AS doc_b,
       CAST(round(dp.dp / (na.nrm * nb.nrm), 6) AS DOUBLE) AS tfidf_cosine
FROM dp JOIN norms na ON na.doc_id = dp.doc_a JOIN norms nb ON nb.doc_id = dp.doc_b
WHERE round(dp.dp / (na.nrm * nb.nrm), 6) >= {TFIDF_PAIR_THRESHOLD}
ORDER BY doc_a, doc_b
"""


def tfidf_cosine_pairs(d: str) -> str:
    """Sparse TF-IDF cosine document-pair similarity — the weighted-lexical
    near-dup signal sitting between set-overlap (`ngram_jaccard_pairs`) and
    dense-embedding cosine (`embedding_cosine_pairs`): shared RARE shingles
    dominate the score, boilerplate shingles are pruned outright. The
    classic MapReduce pairwise-similarity shape (Elsayed, Lin & Oard, ACL
    2008): postings self-join on term, partial-aggregated dot products,
    norms joined in last. Scale levers, in order: the max_df cutoff bounds
    per-term fan-out (a term with df docs contributes df^2 candidate
    products — with df capped the join is sum-of-squares-bounded, never
    corpus^2); singleton terms skip the join; only (doc_id, t, w) triples
    shuffle, text never does; DIMSUM-style sampling (Zadeh & Carlsson,
    2013) is the documented next lever if the df histogram still explodes.
    Reference anchor: the sandbox exposes no lexical pair-similarity op (its
    similarity surface is vector-only, chatbot.py retrieval); this is
    beyond-reference capability for corpus curation."""
    w_sql = _tfidf_w_sql(d).strip()
    final = _tfidf_final_sql(d).lstrip()
    assert final.startswith("WITH ")
    # nested WITH inside the w CTE body — valid on both engines
    return f"WITH w AS ({w_sql}),\n{final[len('WITH '):]}"


def _event_corr_h_sql(d: str) -> str:
    """Standalone (hour, type, count) pre-aggregation — the ONLY corpus
    scan in event_corr_matrix."""
    hr = _idiv(_ts_us(d), "3600000000", d)
    return (
        f"SELECT {hr} AS hr, event_type, CAST(COUNT(*) AS BIGINT) AS cnt "
        f"FROM events GROUP BY {hr}, event_type"
    )


def _event_corr_final_sql(rel: str = "h") -> str:
    """Densify + pairwise corr over the pre-aggregated relation `rel`
    (dialect-free: plain ANSI over dim-sized inputs)."""
    return f"""
WITH hours AS (SELECT DISTINCT hr FROM {rel}),
types AS (SELECT DISTINCT event_type FROM {rel}),
dense AS (
  SELECT hours.hr AS hr, types.event_type AS event_type, COALESCE({rel}.cnt, 0) AS cnt
  FROM hours CROSS JOIN types
  LEFT JOIN {rel} ON {rel}.hr = hours.hr AND {rel}.event_type = types.event_type
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(round(corr(a.cnt, b.cnt), 6) + 0.0 AS DOUBLE) AS hourly_corr
FROM dense a JOIN dense b ON a.hr = b.hr AND a.event_type < b.event_type
GROUP BY a.event_type, b.event_type
ORDER BY type_a, type_b
"""


def event_corr_matrix(d: str) -> str:
    """Pairwise Pearson correlation of hourly event-type volumes — "which
    event streams co-move" (the observability/seasonality companion to
    `events_hourly_windows` and `dow_seasonality`). Missing (hour, type)
    cells are densified to zero before correlating: without densification a
    type that is absent in quiet hours would correlate on its busy hours
    only — a selection bias. Shape: ONE corpus scan pre-aggregates to
    (hour, type, count) with map-side partials; everything after (hour dim
    x type dim cross join, K^2/2 pair self-join, corr) runs on dim-sized
    relations, so at 100 TB the cost is the scan-agg. Pearson is computed
    by corr() on both engines — the pop/samp normalization cancels in the
    ratio, so the definitions agree exactly."""
    final = _event_corr_final_sql().lstrip()
    assert final.startswith("WITH ")
    return f"WITH h AS ({_event_corr_h_sql(d)}),\n{final[len('WITH '):]}"


TEMPLATES["tfidf_cosine_pairs"] = tfidf_cosine_pairs
TEMPLATES["event_corr_matrix"] = event_corr_matrix
COMPUTE_ONCE["tfidf_cosine_pairs"] = ("w",)
COMPUTE_ONCE["event_corr_matrix"] = ("h",)


TFIDF_SAMPLE_C = 3  # expected postings kept per term: p_t = min(1, C/df_t)
# C=3 subsamples every term with df>3, so the audit exercises REAL
# estimation error on the test corpora (C=8 exceeded the sf0.001 df tail
# and made the audit trivially exact). At production df histograms the
# operating C trades recall for join volume; the audit is how you pick it.


def _tfidf_sampled_sql(d: str, rel: str = "w") -> str:
    """DIMSUM-flavored sampled-similarity audit over the weight relation
    `rel`: term-level sampling with p_t = min(1, C/df_t) decided by an
    integer hash of the term (u_t and p_t both derive from exact integers,
    so the KEPT-TERM SET is bit-identical on both engines — per-posting
    float-threshold sampling would not be), importance-corrected dot
    products (each surviving term's contribution scales by 1/p_t), exact
    norms. The sampled join's expected cost is sum(min(df, C*df)) ~ C *
    n_terms — LINEAR where the exact join's sum(df^2) is quadratic in the
    df histogram's tail. The audit joins the estimate against the exact
    pairs and rolls up per exact-cosine decile: pair count, mean exact vs
    mean estimate, MAE, and coverage (the fraction of true pairs the
    sampled join surfaced at all; a missed pair estimates 0). Production
    runs the est branch alone; this entry certifies the estimator."""
    u = P.hash_unit(_str("a.t", d), d)
    p = f"least(1.0, {TFIDF_SAMPLE_C}.0 / a.df)"
    return f"""
WITH wj AS (SELECT doc_id, t, df, w FROM {rel} WHERE df > 1),
norms AS (SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM {rel} GROUP BY doc_id),
samp AS (
  SELECT a.doc_id AS doc_id, a.t AS t, a.w AS w, {p} AS p
  FROM wj a WHERE {u} < {p}
),
est AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w * b.w / a.p) AS est_dot
  FROM samp a JOIN samp b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
exact AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w * b.w) AS dot
  FROM wj a JOIN wj b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT exact.doc_a, exact.doc_b,
         round(exact.dot / (na.nrm * nb.nrm), 6) AS exact_cos,
         COALESCE(est.est_dot, 0.0) / (na.nrm * nb.nrm) AS est_cos
  FROM exact
  LEFT JOIN est ON est.doc_a = exact.doc_a AND est.doc_b = exact.doc_b
  JOIN norms na ON na.doc_id = exact.doc_a
  JOIN norms nb ON nb.doc_id = exact.doc_b
  WHERE round(exact.dot / (na.nrm * nb.nrm), 6) >= {TFIDF_PAIR_THRESHOLD}
)
SELECT CAST(least(9, CAST(floor(exact_cos * 10) AS INT)) AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(round({P.exact_avg('exact_cos', d, 9)}, 6) AS DOUBLE) AS mean_exact,
       CAST(round({P.exact_avg('est_cos', d, 9)}, 6) AS DOUBLE) AS mean_est,
       CAST(round({P.exact_avg('abs(est_cos - exact_cos)', d, 9)}, 6) AS DOUBLE) AS mae,
       CAST(round(AVG(CASE WHEN est_cos > 0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 6)
            AS DOUBLE) AS coverage
FROM pairs
GROUP BY least(9, CAST(floor(exact_cos * 10) AS INT))
ORDER BY bucket
"""


def tfidf_cosine_sampled(d: str) -> str:
    """Sampled sparse-similarity estimator audit (the DIMSUM lever the
    tfidf_cosine_pairs docstring points at, shipped: Zadeh & Carlsson 2013
    sample dot-product terms with probability tied to magnitude and correct
    by 1/p; here the unit is a TERM and p_t = min(1, C/df_t) comes from the
    integer df so the sample is engine-deterministic). See
    _tfidf_sampled_sql for the estimator and audit contract."""
    w_sql = _tfidf_w_sql(d).strip()
    final = _tfidf_sampled_sql(d).lstrip()
    assert final.startswith("WITH ")
    return f"WITH w AS ({w_sql}),\n{final[len('WITH '):]}"


TEMPLATES["tfidf_cosine_sampled"] = tfidf_cosine_sampled
COMPUTE_ONCE["tfidf_cosine_sampled"] = ("w", "samp")


def sampled_cosine_pairs(d: str) -> str:
    """The DIMSUM est-branch SHIPPED as a consumable operator
    (text_analysis.sampled_cosine_pairs — r6 VERDICT: "the scalable path
    the docstring promises isn't reachable by a user"): term-sampled
    postings self-join with p_t = min(1, C/df_t) from the INTEGER df
    (engine-deterministic sample), importance-corrected dot products,
    exact norms, threshold on the rounded estimate. Expected join cost is
    C * n_terms — LINEAR where tfidf_cosine_pairs' exact join is sum(df^2);
    `python tools/stress.py sampled_cosine` records the separation. The
    Spark side here IS the operator (this entry certifies the operator
    output end-to-end against pure SQL); its estimator error contract is
    the per-decile `tfidf_cosine_sampled` audit."""
    w_sql = _tfidf_w_sql(d).strip()
    final = TA.sampled_cosine_sql(
        d, rel="w", C=TFIDF_SAMPLE_C, threshold=TFIDF_PAIR_THRESHOLD
    ).lstrip()
    assert final.startswith("WITH ")
    return f"WITH w AS ({w_sql}),\n{final[len('WITH '):]}"


def _sampled_cosine_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark runner = the operator itself, pointed at the documents view."""
    register_views(spark, sf_dir, tables=("documents",))
    return TA.sampled_cosine_pairs(
        spark.table("documents"), text_col="text", id_col="doc_id",
        C=TFIDF_SAMPLE_C, threshold=TFIDF_PAIR_THRESHOLD, ngram=TFIDF_NGRAM,
        max_df_frac=TFIDF_MAX_DF_FRAC,
    )


TEMPLATES["sampled_cosine_pairs"] = sampled_cosine_pairs
SPARK_OVERRIDES["sampled_cosine_pairs"] = _sampled_cosine_spark


EMB_DRIFT_PLANES = 3  # 8 LSH buckets: coarse enough that the parity-split
# null case stays under the 0.1 'stable' band at every test SF (measured
# PSI 0.084 / 0.088 / 0.009 at sf0.001/0.01/0.1; 4 planes crosses 0.1 on
# the 500-vector stores), fine enough that a rotated/shifted embedding
# space moves bucket mass decisively (sign-flip drives PSI past 1)


def embedding_drift_psi(d: str) -> str:
    """EMBEDDING-SPACE drift monitor: PSI between two corpus versions of
    the vector distribution over deterministic LSH buckets. The
    value-space twin (`psi_value_drift`) watches scalar features; this one
    answers the production question neither it nor recall tracking covers
    — "did the embedding model or the corpus SHIFT in vector space between
    snapshots?" (re-embedding with a changed model, a domain-mix change,
    an ingest bug). Buckets come from `hyperplane_expr` — hash-derived
    hyperplane constants both engines compute identically (the LSH
    entries' oracle trick), so the monitor is fully oracle-checkable,
    unlike a k-means codebook. Versions here are the deterministic vec_id
    parity split (the self-drift NULL check: PSI under the 0.1 band,
    'stable' — the monitor's calibration point, pinned by a pytest that
    also injects a sign-flip and sees 'shifted'); production points the
    two scans at snapshot tables. Shape: ONE scan buckets every vector
    (n_planes dot products, JVM codegen), grouped count with map-side
    combine; the all-bucket grid, +0.5 smoothing, and the PSI rollup run
    on a buckets-sized dim — same scale story as psi_value_drift.
    Output: one row per bucket (version shares + PSI contribution) with
    the total PSI and the standard 0.1/0.25-band verdict repeated."""
    return f"""
WITH binned AS ({_emb_drift_binned_select(d)}),
{_emb_drift_psi_tail(d)}"""


def _emb_drift_binned_select(d: str, rel: str = "embeddings") -> str:
    """The streaming-able half of the drift monitor: bucket every vector of
    `rel` and count per (version, bucket) — the ONLY corpus-sized work."""
    from oaim_sandbox_spark.operators.ann import hyperplane_expr
    from oaim_sandbox_spark.queries_core import EMBED_DIM as _dim

    bucket = hyperplane_expr("embedding", EMB_DRIFT_PLANES, _dim, d)
    ver = "CASE WHEN vec_id % 2 = 0 THEN 'ref' ELSE 'cur' END"
    return (
        f"SELECT {ver} AS w, CAST({bucket} AS INT) AS bin, "
        f"CAST(COUNT(*) AS BIGINT) AS n "
        f"FROM {rel} GROUP BY {ver}, CAST({bucket} AS INT)"
    )


def _emb_drift_psi_tail(d: str, binned_rel: str = "binned") -> str:
    """Grid + smoothing + PSI rollup over an existing (w, bin, n) histogram
    relation — buckets-dim work, shared by the batch template and the
    streaming runner (which feeds it the STREAMED histogram)."""
    nb = 2 ** EMB_DRIFT_PLANES
    allb = (
        f"SELECT explode(sequence(0, {nb - 1})) AS bin"
        if d == "spark"
        else f"SELECT unnest(generate_series(0, {nb - 1})) AS bin"
    )
    return f"""tot AS (SELECT w, CAST(SUM(n) AS DOUBLE) AS t FROM {binned_rel} GROUP BY w),
grid AS (
  SELECT bins.bin,
         (COALESCE(r.n, 0) + 0.5) / (COALESCE(tr.t, 0.0) + {0.5 * nb}) AS pr,
         (COALESCE(c.n, 0) + 0.5) / (COALESCE(tc.t, 0.0) + {0.5 * nb}) AS pc
  FROM ({allb}) bins
  LEFT JOIN tot tr ON tr.w = 'ref'
  LEFT JOIN tot tc ON tc.w = 'cur'
  LEFT JOIN {binned_rel} r ON r.bin = bins.bin AND r.w = 'ref'
  LEFT JOIN {binned_rel} c ON c.bin = bins.bin AND c.w = 'cur'
),
total AS (SELECT SUM((pc - pr) * ln(pc / pr)) AS psi FROM grid)
SELECT CAST(grid.bin AS INT) AS bin,
       CAST(round(grid.pr, 6) AS DOUBLE) AS ref_share,
       CAST(round(grid.pc, 6) AS DOUBLE) AS cur_share,
       CAST(round((grid.pc - grid.pr) * ln(grid.pc / grid.pr), 6) + 0.0 AS DOUBLE) AS psi_contrib,
       CAST(round(total.psi, 6) + 0.0 AS DOUBLE) AS psi_total,
       CASE WHEN total.psi < 0.1 THEN 'stable'
            WHEN total.psi < 0.25 THEN 'moderate'
            ELSE 'shifted' END AS verdict
FROM grid CROSS JOIN total
ORDER BY bin
"""


TEMPLATES["embedding_drift_psi"] = embedding_drift_psi


def weak_label_vote(d: str) -> str:
    """Snorkel-style weak supervision for corpus curation: combine K noisy
    binary quality signals into one soft label WITHOUT ground truth, by
    weighting each signal with its measured agreement against the
    leave-one-out majority of the others (Ratner et al., Snorkel VLDB'18 —
    the full generative label model learns source accuracies from
    agreements/conflicts; this is its closed-form agreement-rate special
    case, deterministic and dual-dialect). A signal that contradicts the
    consensus half the time gets weight ~0 (w = 2*max(a-0.5, 0)), so one
    broken heuristic cannot poison the vote — the property a plain AND/OR
    of filters (`quality_filter`) lacks. Shape: one projection computes
    the K signals per doc (JVM codegen, one corpus scan — the signals
    reuse the quality_metrics/token machinery); the agreement aggregation
    is ONE global row (K columns, broadcast back); the weighted vote is a
    second pass over the signal relation. At 100 TB: two scans of a slim
    (doc_id, s1..sK, source) relation, no shuffle wider than the
    per-source rollup. Output: per-source audit — doc counts, mean vote,
    pass rate — with the learned weights carried on every row so the
    'model' is inspectable (and hash-checked). Degenerate corpora where
    EVERY signal's agreement is <= 0.5 (all weights zero) yield NULL for
    BOTH mean_vote and pass_rate — 'no informative signal' is reported
    consistently, never as a fake 0.0 pass rate."""
    m = TA.quality_metrics_sql("text", d)
    toks = P.tokens("text", d)
    if d == "spark":
        n, nd = f"size({toks})", f"size(array_distinct({toks}))"
    else:
        n, nd = f"len({toks})", f"len(list_distinct({toks}))"
    sigs = {
        "s_len": f"CASE WHEN {m['n_chars']} >= 80 THEN 1 ELSE 0 END",
        "s_tok": f"CASE WHEN {m['n_tokens']} >= 12 THEN 1 ELSE 0 END",
        "s_digit": f"CASE WHEN COALESCE({m['digit_ratio']}, 1.0) <= 0.2 THEN 1 ELSE 0 END",
        "s_rep": f"CASE WHEN CAST({nd} AS DOUBLE) / nullif({n}, 0) >= 0.3 THEN 1 ELSE 0 END",
        "s_stop": f"CASE WHEN COALESCE({m['stopword_ratio']}, 0.0) >= 0.05 THEN 1 ELSE 0 END",
    }
    names = list(sigs)
    sig_cols = ",\n         ".join(f"{expr} AS {k}" for k, expr in sigs.items())
    total = " + ".join(names)
    # leave-one-out majority: >= 2 of the other 4 signals fire
    agree_cols = ", ".join(
        f"CAST(AVG(CASE WHEN {k} = (CASE WHEN ({total}) - {k} >= 2 THEN 1 ELSE 0 END) "
        f"THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) AS DOUBLE) AS a_{k}"
        for k in names
    )
    w = {k: f"(2.0 * greatest(a_{k} - 0.5, 0.0))" for k in names}
    wsum = " + ".join(w.values())
    vote = "(" + " + ".join(f"{w[k]} * {k}" for k in names) + f") / nullif({wsum}, 0.0)"
    w_out = ", ".join(f"CAST(round({w[k]}, 6) AS DOUBLE) AS w_{k}" for k in names)
    return f"""
WITH sig AS (
  SELECT doc_id, source,
         {sig_cols}
  FROM documents
),
agree AS (SELECT {agree_cols} FROM sig)
SELECT sig.source AS source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(round({P.exact_avg(vote, d, 9)}, 6) AS DOUBLE) AS mean_vote,
       CAST(round(AVG(CASE WHEN {vote} >= 0.5 THEN CAST(1 AS DOUBLE)
                           WHEN {vote} < 0.5 THEN CAST(0 AS DOUBLE) END), 6)
            AS DOUBLE) AS pass_rate,
       {w_out}
FROM sig CROSS JOIN agree
GROUP BY sig.source, {", ".join(f"a_{k}" for k in names)}
ORDER BY source
"""


TEMPLATES["weak_label_vote"] = weak_label_vote


def hard_negative_mining(d: str) -> str:
    """Hard-negative mining for metric-learning / embedding-finetune data:
    for a deterministic batch of query vectors, the top-5 nearest
    DIFFERENT-LABEL vectors — semantically close but wrong-class, the
    negatives that actually move a contrastive loss (random negatives are
    trivially separable). Complements `filtered_topk_label` (single query,
    same-label pre-filter) with the inverse contract: per-query-batch,
    label ANTI-filter, rank column carried for curriculum use (rank-1
    negatives are the hardest). This exact form is the ORACLE baseline;
    the 100 TB path is the same funnel every tier uses — ANN candidates
    (IVFIndex.search_batch with a label predicate pushed into the pruned
    scan) re-ranked exactly — certified against this query's semantics.
    Plan shape: the query batch broadcasts (|corpus|/97 rows), ONE store
    scan scores all queries over PRE-NORMED rows (r13 opt: cast + norm
    factored per row, one dot fold per pair-side evaluation —
    bit-identical, see `_emb_prenorm_sql`), the rank window shuffles slim
    (query, vec_id, distance) tuples only. The distance is computed in a
    projection BELOW the rank window and the window orders by the COLUMN
    (r14 opt, guide §7.2 "duplicated subtrees": keying the window on the
    round({{dist}}, 6) EXPRESSION made Spark project the dot fold twice per
    pair — once as `distance`, once as the `_w1` sort key; ordering by the
    projected column is the same ordering over the same doubles, one fold
    per pair — frozen-oracle pinned in tests/test_r14_opt_pins.py)."""
    dist = P.cosine_distance_prenorm("e.av", "q.qav", "e.nrm", "q.qnrm", d)
    return f"""
WITH en AS ({_emb_prenorm_sql(d)}),
q AS (
  SELECT vec_id AS query_id, label AS qlabel, av AS qav, nrm AS qnrm
  FROM en WHERE vec_id % 97 = 0
),
pairdist AS (
  SELECT q.query_id AS query_id, e.vec_id AS negative_id,
         CAST(e.label AS INT) AS neg_label,
         round({dist}, 6) AS distance
  FROM en e CROSS JOIN q
  WHERE e.vec_id <> q.query_id AND e.label <> q.qlabel
),
scored AS (
  SELECT query_id, negative_id, neg_label, distance,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY distance ASC, negative_id ASC) AS rnk
  FROM pairdist
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(negative_id AS BIGINT) AS negative_id,
       neg_label,
       CAST(rnk AS INT) AS rnk,
       CAST(distance AS DOUBLE) AS distance
FROM scored WHERE rnk <= 5
ORDER BY query_id, rnk
"""


TEMPLATES["hard_negative_mining"] = hard_negative_mining


def unimax_budget_allocation(d: str) -> str:
    """UniMax-style training-budget allocation across domains (Chung et
    al., "UniMax: Fairer and More Effective Language Sampling", ICLR 2023
    — allocate a token budget as uniformly as possible without
    over-repeating small domains): classic WATER-FILLING with per-domain
    capacity = available tokens. Closed form on sorted capacities (no
    iteration): sort domains ascending, a prefix is 'saturated' when
    filling every remaining domain to that domain's capacity still fits
    the budget (the saturated set is always a prefix — proved by the
    exchange inequality in the window expression), saturated domains get
    all their tokens, the rest split the remainder evenly at the water
    level. Complements `domain_caps_topn` (hard caps) and
    `domain_temperature_weights` (power-law reweighting) with the
    budgeted-fairness allocator. Budget here = 40% of corpus tokens via
    INTEGER arithmetic ((total*2) div 5 — CAST(double) rounds on DuckDB
    but truncates on Spark, the classic cross-engine footgun). Shape: one
    corpus scan-agg to (source, tokens); ranking, cumsums, and the level
    solve all run on the sources dim. Output carries the water level and
    epochs (= allocated/available, the UniMax over-repeat guard) per row."""
    toks = P.tokens("text", d)
    n_tok = f"size({toks})" if d == "spark" else f"len({toks})"
    b_expr = _idiv("tot.total * 2", "5", d)
    return f"""
WITH tok AS (
  SELECT source, CAST(SUM({n_tok}) AS BIGINT) AS avail
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(avail) AS BIGINT) AS total, COUNT(*) AS n FROM tok),
budget AS (SELECT CAST({b_expr} AS BIGINT) AS b, tot.n AS n FROM tot),
ranked AS (
  SELECT source, avail,
         ROW_NUMBER() OVER (ORDER BY avail ASC, source ASC) AS i,
         SUM(avail) OVER (ORDER BY avail ASC, source ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM tok
),
lvl AS (
  SELECT budget.b AS b, budget.n AS n,
         COALESCE(MAX(CASE WHEN ranked.avail * (budget.n - ranked.i + 1)
                                + (ranked.cum - ranked.avail) <= budget.b
                           THEN ranked.i END), 0) AS k,
         COALESCE(MAX(CASE WHEN ranked.avail * (budget.n - ranked.i + 1)
                                + (ranked.cum - ranked.avail) <= budget.b
                           THEN ranked.cum END), 0) AS cumk
  FROM ranked CROSS JOIN budget
  GROUP BY budget.b, budget.n
)
SELECT ranked.source AS source,
       CAST(ranked.avail AS BIGINT) AS avail_tokens,
       CAST(round(CASE WHEN ranked.i <= lvl.k THEN CAST(ranked.avail AS DOUBLE)
                       ELSE least(CAST(ranked.avail AS DOUBLE),
                                  (lvl.b - lvl.cumk) / (lvl.n - lvl.k)) END, 6)
            AS DOUBLE) AS allocated_tokens,
       CAST(round(CASE WHEN lvl.k >= lvl.n THEN CAST(NULL AS DOUBLE)
                       ELSE (lvl.b - lvl.cumk) / (lvl.n - lvl.k) END, 6)
            AS DOUBLE) AS water_level,
       CAST(round(CASE WHEN ranked.i <= lvl.k THEN CAST(1 AS DOUBLE)
                       ELSE least(CAST(ranked.avail AS DOUBLE),
                                  (lvl.b - lvl.cumk) / (lvl.n - lvl.k))
                            / ranked.avail END, 6) AS DOUBLE) AS epochs
FROM ranked CROSS JOIN lvl
ORDER BY source
"""


TEMPLATES["unimax_budget_allocation"] = unimax_budget_allocation


# -- round-8 additions: label-noise detection, coreset coverage, dedup
# accounting, cross-source threshold parity ---------------------------------


def _emb_prenorm_sql(d: str, cols: str = "vec_id, label") -> str:
    """(…cols, av, nrm): embeddings with the double-array cast AND the L2
    norm factored out per ROW — the pair-join prenorm lever (r13 opt,
    guide §1.2 "per-task work"): an O(n·m) pair relation evaluating
    `P.cosine_distance` recomputes both norms (two HOF folds) per PAIR,
    though they are per-row quantities. Consumers join this relation and
    score with `P.cosine_distance_prenorm("a.av", "b.av", "a.nrm",
    "b.nrm", d)` — ONE dot fold per pair, bit-identical by construction
    (same fold order, same nullif/coalesce zero-vector guard; pinned in
    tests/test_r13_opt_pins.py)."""
    av = P.to_double_array("embedding", d)
    return (
        f"SELECT {cols}, av, {P.norm2('av', d)} AS nrm "
        f"FROM (SELECT {cols}, {av} AS av FROM embeddings) _e"
    )


def knn_label_consensus(d: str) -> str:
    """Label-noise detection by k-NN label agreement (confident-learning
    lite): for every labeled embedding, the share of its 5 exact-cosine
    nearest neighbors (self excluded) carrying the SAME label; per label:
    mean consensus and the count of suspects (consensus < 0.4 — likely
    mislabeled or boundary examples, the rows a label-cleaning pass routes
    to review). Complements `weak_label_vote` (programmatic labels) with
    the geometric check on ASSIGNED labels. This exact all-pairs form is
    the oracle; the 100 TB path is the hard_negative_funnel shape —
    IVFIndex.search_batch candidates (no label predicate) re-ranked exactly,
    with consensus computed over the funnel's top-5. Plan shape: one
    broadcast-NLJ self-score over PRE-NORMED rows (r13 opt: cast + norm
    factored per row, one dot fold per pair — bit-identical, see
    `_emb_prenorm_sql`), rank window over slim (vid, label, distance)
    tuples, two hash aggs."""
    dist = P.cosine_distance_prenorm("a.av", "b.av", "a.nrm", "b.nrm", d)
    return f"""
WITH en AS ({_emb_prenorm_sql(d)}),
nb AS (
  SELECT a.vec_id AS vid, a.label AS alab, b.label AS blab,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
                            ORDER BY round({dist}, 6) ASC, b.vec_id ASC) AS rnk
  FROM en a JOIN en b ON a.vec_id <> b.vec_id
),
cons AS (
  SELECT vid, alab,
         AVG(CASE WHEN blab = alab THEN CAST(1 AS DOUBLE)
                  ELSE CAST(0 AS DOUBLE) END) AS consensus
  FROM nb WHERE rnk <= 5 GROUP BY vid, alab
)
SELECT CAST(alab AS INT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(round({P.exact_avg('consensus', d, 9)}, 6) AS DOUBLE) AS mean_consensus,
       CAST(SUM(CASE WHEN consensus < 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect
FROM cons GROUP BY alab ORDER BY label
"""


TEMPLATES["knn_label_consensus"] = knn_label_consensus


def coreset_coverage_radius(d: str) -> str:
    """Coverage audit for coreset/sample-based training-data selection: take
    the deterministic sample vec_id % 16 = 0 as the coreset, measure every
    remaining point's cosine distance to its NEAREST coreset member, and
    report per label the mean / p90 / max coverage radius. A fat p90-max
    tail means the sample under-covers that label's region (the k-center
    objective this audits is max-radius). Exact percentiles interpolate
    identically on Spark `percentile` and DuckDB `quantile_cont`
    (doc_len_percentiles pattern). Plan shape: the coreset is sample-sized
    (broadcast), ONE scan of the store computes all min-distances map-side,
    then a per-label agg; at 100 TB the coreset side stays bounded by the
    sampling rate and the scan parallelizes freely — for million-point
    coresets, route the nearest-center step through IVFIndex over the
    coreset instead.

    mean_radius accumulates EXACT integer micro-radii (each radius is
    already round(x, 6), so radius*1e6 recovers an integer) — a plain
    AVG over doubles is partial-merge-order dependent and flipped the 6th
    decimal across runs when a label's mean sat on a rounding boundary
    (caught by the r10 close re-sweep: 0.759819 vs 0.759818)."""
    dist = P.cosine_distance_prenorm("p.av", "c.av", "p.nrm", "c.nrm", d)
    pcts = (
        "percentile(radius, 0.9D)" if d == "spark" else "quantile_cont(radius, 0.9)"
    )
    return f"""
WITH en AS ({_emb_prenorm_sql(d)}),
c AS (SELECT vec_id, av, nrm FROM en WHERE vec_id % 16 = 0),
p AS (SELECT vec_id, label, av, nrm FROM en WHERE vec_id % 16 <> 0),
r AS (
  SELECT p.vec_id AS vid, p.label AS label, MIN(round({dist}, 6)) AS radius
  FROM p CROSS JOIN c
  GROUP BY p.vec_id, p.label
)
SELECT CAST(label AS INT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(round(SUM(CAST(round(radius * CAST(1000000 AS DOUBLE)) AS BIGINT))
                  / (COUNT(*) * CAST(1000000 AS DOUBLE)), 6) AS DOUBLE)
           AS mean_radius,
       CAST(round({pcts}, 6) AS DOUBLE) AS p90_radius,
       CAST(round(MAX(radius), 6) AS DOUBLE) AS max_radius
FROM r GROUP BY label ORDER BY label
"""


TEMPLATES["coreset_coverage_radius"] = coreset_coverage_radius


def quality_threshold_parity(d: str) -> str:
    """Cross-source quality-gate fairness audit: a single GLOBAL quality
    threshold starves low-resource sources (their whole distribution sits
    lower), while per-SOURCE thresholds keep each source's best share.
    This measures the disagreement between the two policies at the mean
    threshold (means, not interpolated quantiles, so the cut points are
    exact aggregates on both engines): per source, how many docs pass the
    global mean cut vs the source-local mean cut, and how many the two
    policies agree on. Plan shape: one scan computes scores, two tiny aggs
    (global scalar + per-source dim) broadcast back — no window, no
    shuffle of text."""
    qs = TA.quality_score_sql("text", d)
    return f"""
WITH q AS (SELECT doc_id, source, {qs} AS qs FROM documents),
g AS (SELECT AVG(qs) AS gthr FROM q),
l AS (SELECT source, AVG(qs) AS lthr FROM q GROUP BY source)
SELECT q.source AS source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(round(MAX(l.lthr), 6) AS DOUBLE) AS local_thr,
       CAST(SUM(CASE WHEN q.qs >= g.gthr THEN 1 ELSE 0 END) AS BIGINT) AS global_pass,
       CAST(SUM(CASE WHEN q.qs >= l.lthr THEN 1 ELSE 0 END) AS BIGINT) AS local_pass,
       CAST(SUM(CASE WHEN (q.qs >= g.gthr AND q.qs >= l.lthr)
                       OR (q.qs < g.gthr AND q.qs < l.lthr)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
FROM q JOIN l ON q.source = l.source CROSS JOIN g
GROUP BY q.source ORDER BY q.source
"""


TEMPLATES["quality_threshold_parity"] = quality_threshold_parity


def _dedup_degree_body(d: str, rel: str = "sigs", pairs_sql: str | None = None,
                       docs_rel: str = "documents", thr: float = 0.5) -> str:
    """Per-source dedup accounting over the minhash-LSH pair graph read
    from signature relation `rel` (Spark computes the signatures once:
    COMPUTE_ONCE). ``pairs_sql``/``docs_rel``/``thr``
    let `pipeline.curate_corpus(report="accounting")` emit the SAME rollup
    from its own already-materialized pair relation at its own operating
    threshold instead of re-shingling the corpus."""
    from oaim_sandbox_spark.queries_dedup import _minhash_pairs_body

    if pairs_sql is None:
        pairs_sql = _minhash_pairs_body(d, rel=rel)
    toks = TA.token_counts_sql("text", d)["ws_tokens"]
    return f"""
WITH pairs AS ({pairs_sql}),
strong AS (SELECT doc_a, doc_b FROM pairs
           WHERE est_jaccard >= CAST({thr} AS DOUBLE)),
deg AS (
  SELECT doc_id, COUNT(*) AS degree FROM (
    SELECT doc_a AS doc_id FROM strong
    UNION ALL
    SELECT doc_b AS doc_id FROM strong
  ) u GROUP BY doc_id
),
dropped AS (
  SELECT DISTINCT CASE WHEN doc_a > doc_b THEN doc_a ELSE doc_b END AS doc_id
  FROM strong
),
docs AS (SELECT doc_id, source, {toks} AS toks FROM {docs_rel})
SELECT docs.source AS source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN deg.degree IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_members,
       CAST(COALESCE(MAX(deg.degree), 0) AS BIGINT) AS max_degree,
       CAST(SUM(CASE WHEN dropped.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped,
       CAST(SUM(CASE WHEN dropped.doc_id IS NOT NULL THEN docs.toks ELSE 0 END)
            AS BIGINT) AS tokens_saved,
       CAST(round(CAST(SUM(CASE WHEN dropped.doc_id IS NOT NULL THEN docs.toks
                                ELSE 0 END) AS DOUBLE)
                  / SUM(docs.toks), 6) AS DOUBLE) AS tokens_saved_frac
FROM docs LEFT JOIN deg ON docs.doc_id = deg.doc_id
          LEFT JOIN dropped ON docs.doc_id = dropped.doc_id
GROUP BY docs.source ORDER BY docs.source
"""


def dedup_degree_profile(d: str) -> str:
    """Dedup ACCOUNTING per source — the report a 100 TB curation job
    publishes after its near-dup stage: from the minhash-LSH pair graph at
    est_jaccard >= 0.5 (the exact pair rule `pipeline.curate_corpus`'s
    minhash stage drops on), per source: docs that are members of any
    near-dup pair, the max pair degree, docs the greater-id-drop rule
    removes, and the whitespace-token mass (+fraction) that removal saves.
    Certifies the pipeline's duplicate-mass bookkeeping end-to-end against
    an independent engine, not just the kept-row count. Plan shape: the
    banding self-join is the only quadratic-risk step (bucket-bounded, text
    never shuffles); degree/drop/docs joins are slim int64 keys; one
    per-source agg."""
    from oaim_sandbox_spark.queries_dedup import _minhash_sigs_sql

    body = _dedup_degree_body(d)
    return body.replace(
        "WITH pairs AS (", f"WITH sigs AS ({_minhash_sigs_sql(d)}), pairs AS (", 1
    )


TEMPLATES["dedup_degree_profile"] = dedup_degree_profile
COMPUTE_ONCE["dedup_degree_profile"] = ("sigs",)


def ngram_novelty_decay(d: str) -> str:
    """Corpus-saturation curve per source (the crawl-scheduling signal: when
    a source's novelty rate flattens, further crawling buys duplication, not
    data): docs are bucketed into 10 ingest-order deciles by ARITHMETIC
    doc_id bucketing (min/max per source joined back — deliberately NOT an
    ntile window, which would sort every doc of a source in one partition at
    corpus scale), each distinct 3-gram shingle is attributed to the FIRST
    bucket where its source saw it, and the per-bucket novelty fraction =
    first-seen shingles / source's distinct shingles. A healthy fresh
    source decays slowly; a saturated or templated one collapses after
    bucket 0. Plan shape: shingle explode -> (source, shingle) min-agg ->
    (source, bucket) agg, all key-hash shuffles; no windows. The bucket
    index uses INTEGER division — CAST(a/b AS INT) rounds on DuckDB but
    truncates on Spark, the cross-engine footgun."""
    bucket_div = _idiv("((ex.doc_id - b.min_id) * 10)", "(b.max_id - b.min_id + 1)", d)
    sh = P.shingle_hashes("text", 3, d)
    expl = (
        f"SELECT doc_id, source, explode(array_distinct({sh})) AS sh FROM documents"
        if d == "spark"
        else f"SELECT doc_id, source, unnest(list_distinct({sh})) AS sh FROM documents"
    )
    return f"""
WITH ex AS ({expl}),
bounds AS (
  SELECT source AS bsource, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
  FROM documents GROUP BY source
),
bucketed AS (
  SELECT ex.source AS source, ex.sh AS sh,
         CAST({bucket_div} AS INT) AS bucket
  FROM ex JOIN bounds b ON ex.source = b.bsource
),
first_seen AS (
  SELECT source, sh, MIN(bucket) AS first_bucket
  FROM bucketed GROUP BY source, sh
),
per_source AS (
  SELECT source AS tsource, COUNT(*) AS total_shingles
  FROM first_seen GROUP BY source
)
SELECT f.source AS source,
       CAST(f.first_bucket AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS new_shingles,
       CAST(round(CAST(COUNT(*) AS DOUBLE) / t.total_shingles, 6) AS DOUBLE)
           AS novelty_frac
FROM first_seen f JOIN per_source t ON f.source = t.tsource
GROUP BY f.source, f.first_bucket, t.total_shingles
ORDER BY source, bucket
"""


TEMPLATES["ngram_novelty_decay"] = ngram_novelty_decay


def embedding_health_audit(d: str) -> str:
    """Pre-ANN store health check — the audit to run BEFORE fitting indexes
    or trusting distances (every ANN tier silently degrades on degenerate
    inputs): per label, vector counts, ragged-dimension detection (min/max
    array length), zero-norm vectors (cosine is undefined on them — they
    poison normalized scores), non-finite values (one NaN turns a whole
    distance NaN and Spark sorts NaN LAST while DuckDB sorts it HIGH —
    silent rank divergence), constant dimensions (carry no information but
    still cost scan bandwidth and quantizer codebook mass), and the norm
    distribution (mean + exact p99 on round-6 norms). Plan shape: one scan
    for the vector-level stats; the dim-level stats pivot through the fixed
    1..EMBED_DIM index relation (embedding_centroid_outliers pattern) into
    a (label, dim) agg — no UDFs, whole-stage codegen end to end; the dim
    table is k*EMBED_DIM rows, always broadcast-sized."""
    nrm = P.norm2(P.to_double_array("embedding", d), d)
    ln = P.list_len("embedding", d)
    bad = (
        "size(filter(cast(embedding as array<double>), x -> isnan(x) OR abs(x) > 1e308))"
        if d == "spark"
        else "len(list_filter(CAST(embedding AS DOUBLE[]), x -> isnan(x) OR abs(x) > 1e308))"
    )
    x = _elem("embedding", "i", d)
    pcts = "percentile(nrm, 0.99D)" if d == "spark" else "quantile_cont(nrm, 0.99)"
    return f"""
WITH v AS (
  -- non-finite vectors get a NULL norm: their NaN would otherwise reach
  -- exact_avg's BIGINT quantization and ABORT the audit on exactly the
  -- stores it exists to flag (CAST(NaN AS BIGINT) throws on both
  -- engines). NULL flows through COUNT/SUM/AVG/percentile as "absent",
  -- and on a clean store (bad = 0 everywhere) the output is
  -- bit-identical to the pre-guard form.
  SELECT label, {ln} AS ndim,
         CASE WHEN {bad} > 0 THEN NULL ELSE round({nrm}, 6) END AS nrm,
         {bad} AS bad
  FROM embeddings
),
idx AS ({_dim_idx(d)}),
dims AS (
  SELECT label, i,
         CASE WHEN MIN(CAST({x} AS DOUBLE)) = MAX(CAST({x} AS DOUBLE))
              THEN 1 ELSE 0 END AS is_const
  FROM embeddings CROSS JOIN idx
  GROUP BY label, i
),
dimsum AS (SELECT label AS dlabel, SUM(is_const) AS n_const FROM dims GROUP BY label)
SELECT CAST(v.label AS INT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(MIN(v.ndim) AS INT) AS min_dim,
       CAST(MAX(v.ndim) AS INT) AS max_dim,
       CAST(SUM(CASE WHEN v.nrm < 0.000001 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
       CAST(SUM(v.bad) AS BIGINT) AS n_nonfinite_vals,
       CAST(round({P.exact_avg('v.nrm', d, 9)}, 6) AS DOUBLE) AS mean_norm,
       CAST(round({pcts}, 6) AS DOUBLE) AS p99_norm,
       CAST(MAX(ds.n_const) AS INT) AS n_constant_dims
FROM v JOIN dimsum ds ON v.label = ds.dlabel
GROUP BY v.label ORDER BY label
"""


TEMPLATES["embedding_health_audit"] = embedding_health_audit


def token_gini_by_source(d: str) -> str:
    """Token-mass inequality per source (curation diagnostic: a source whose
    token mass concentrates in a few huge docs behaves very differently
    under doc-level sampling/dedup than its doc count suggests; pair with
    `domain_caps_topn`/`unimax_budget_allocation` when setting budgets).
    EXACT Gini from GROUPED frequencies: group docs by their whitespace
    token count v, then over the distinct values sorted ascending use the
    trapezoid identity G = 1 - sum_k f_k*(S_(k-1)+S_k) / (N*S_total) with
    S = cumulative v*f. Every sum is INTEGER until the final division, so
    both engines agree bit-for-bit (no float-sum order wobble) WITHIN the
    int64 envelope: the weighted sum is bounded by n_docs * 2 *
    total_tokens per source, exact up to ~9.2e18 (e.g. 1e6 docs x 4.6e12
    tokens). Beyond that Spark's BIGINT SUM wraps/ANSI-throws while DuckDB
    silently promotes to HUGEINT — so at extreme per-source scales shard
    the source key or pre-scale v by a power of two before trusting
    cross-engine equality; the division-only-at-the-end property is what
    this form buys, not unbounded range. The window
    runs over DISTINCT TOKEN-COUNT VALUES per source — cardinality bounded
    by max doc length, never by doc count — so the per-source partitions
    stay dim-sized at any corpus scale (the corpus-sized rows are absorbed
    by the (source, v) pre-agg, a plain key-hash shuffle)."""
    toks = TA.token_counts_sql("text", d)["ws_tokens"]
    return f"""
WITH t AS (SELECT source, CAST({toks} AS BIGINT) AS v FROM documents),
g AS (SELECT source, v, COUNT(*) AS f FROM t GROUP BY source, v),
c AS (
  SELECT source, v, f,
         SUM(v * f) OVER (PARTITION BY source ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_cum
  FROM g
),
tot AS (
  SELECT source AS tsource, SUM(f) AS n, SUM(v * f) AS s
  FROM g GROUP BY source
)
SELECT c.source AS source,
       CAST(tot.n AS BIGINT) AS n_docs,
       CAST(tot.s AS BIGINT) AS total_tokens,
       CAST(round(1.0 - CAST(SUM(c.f * ((c.s_cum - c.v * c.f) + c.s_cum)) AS DOUBLE)
                        / (CAST(tot.n AS DOUBLE) * tot.s), 6) AS DOUBLE) AS gini
FROM c JOIN tot ON c.source = tot.tsource
GROUP BY c.source, tot.n, tot.s
ORDER BY source
"""


TEMPLATES["token_gini_by_source"] = token_gini_by_source


def _dedup_threshold_body(d: str, rel: str = "sigs", pairs_sql: str | None = None,
                          docs_rel: str = "documents") -> str:
    """Cumulative drop counts at each candidate threshold, reading pairs
    from signature relation `rel` (computed once on Spark: COMPUTE_ONCE;
    shared via ``pairs_sql``/``docs_rel`` with curate_corpus's accounting
    report)."""
    from oaim_sandbox_spark.queries_dedup import _minhash_pairs_body

    if pairs_sql is None:
        pairs_sql = _minhash_pairs_body(d, rel=rel)
    toks = TA.token_counts_sql("text", d)["ws_tokens"]
    thr = (
        "SELECT explode(array(CAST(0.5 AS DOUBLE), CAST(0.7 AS DOUBLE), "
        "CAST(0.9 AS DOUBLE))) AS t"
        if d == "spark"
        else "SELECT unnest([0.5::DOUBLE, 0.7::DOUBLE, 0.9::DOUBLE]) AS t"
    )
    return f"""
WITH pairs AS ({pairs_sql}),
thr AS ({thr}),
drops AS (
  SELECT DISTINCT thr.t AS t,
         CASE WHEN doc_a > doc_b THEN doc_a ELSE doc_b END AS doc_id
  FROM pairs CROSS JOIN thr
  WHERE est_jaccard >= thr.t
),
pair_counts AS (
  SELECT thr.t AS t, COUNT(*) AS n_pairs
  FROM pairs CROSS JOIN thr
  WHERE est_jaccard >= thr.t GROUP BY thr.t
),
docs AS (SELECT doc_id, CAST({toks} AS BIGINT) AS toks FROM {docs_rel})
SELECT CAST(thr.t AS DOUBLE) AS threshold,
       CAST(COALESCE(MAX(pc.n_pairs), 0) AS BIGINT) AS n_pairs,
       CAST(COUNT(dr.doc_id) AS BIGINT) AS n_dropped_docs,
       CAST(COALESCE(SUM(dk.toks), 0) AS BIGINT) AS tokens_saved
FROM thr
LEFT JOIN pair_counts pc ON pc.t = thr.t
LEFT JOIN drops dr ON dr.t = thr.t
LEFT JOIN docs dk ON dk.doc_id = dr.doc_id
GROUP BY thr.t
ORDER BY threshold
"""


def dedup_threshold_sensitivity(d: str) -> str:
    """The near-dup threshold TRADE-OFF CURVE a curation run consults before
    fixing `near_dedup_jaccard`: at each candidate threshold (0.5 / 0.7 /
    0.9, explicit DOUBLE literals — Spark types bare decimals DECIMAL), the
    surviving pair count, the docs the first-wins greater-id rule would
    drop, and the token mass saved — cumulative from the strictest band, so
    each row IS the outcome of running the pipeline at that threshold.
    Complements `dedup_degree_profile` (per-source accounting at the fixed
    0.5 operating point) with the threshold dimension. Plan shape: the pair
    graph is computed ONCE; the threshold dim is 3 rows (broadcast by
    construction); everything downstream joins on slim int64 doc ids."""
    from oaim_sandbox_spark.queries_dedup import _minhash_sigs_sql

    body = _dedup_threshold_body(d)
    return body.replace(
        "WITH pairs AS (", f"WITH sigs AS ({_minhash_sigs_sql(d)}), pairs AS (", 1
    )


TEMPLATES["dedup_threshold_sensitivity"] = dedup_threshold_sensitivity
COMPUTE_ONCE["dedup_threshold_sensitivity"] = ("sigs",)


def streaming_drift_psi(d: str) -> str:
    """Embedding-drift PSI THROUGH Structured Streaming (Spark override):
    the corpus-sized work — bucketing every vector and counting per
    (version, LSH bucket) — runs as an availableNow file stream with a
    complete-mode aggregation into a memory sink (the continuous-monitor
    shape: each micro-batch updates the running histograms; streaming
    state = versions x 2^planes rows, tiny and bounded forever), then the
    buckets-dim grid/smoothing/PSI rollup runs as one batch query over
    the streamed histogram. Over a static directory the result equals the
    batch `embedding_drift_psi` SQL, which is this entry's oracle."""
    return embedding_drift_psi(d)


TEMPLATES["streaming_drift_psi"] = streaming_drift_psi


def _streaming_drift_psi_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    from oaim_sandbox_spark.queries_registry import _stream_shuffle

    schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )
    vname = f"emb_stream_{_uuid.uuid4().hex[:8]}"
    stream.createOrReplaceTempView(vname)
    agg = spark.sql(_emb_drift_binned_select("spark", rel=vname))
    out = f"stream_drift_{_uuid.uuid4().hex[:8]}"
    with _stream_shuffle(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(out)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    spark.catalog.dropTempView(vname)
    # snapshot the memory-sink table before the tail's r/c self-join: the
    # in-memory streaming relation resolves ambiguously when aliased twice
    hname = f"{out}_hist"
    spark.table(out).localCheckpoint(eager=True).createOrReplaceTempView(hname)
    # views resolve at analysis time: build the plan, then drop BOTH the
    # histogram view and the memory-sink table so repeated certification
    # sweeps in one driver session don't accumulate catalog entries
    df = spark.sql(f"WITH {_emb_drift_psi_tail('spark', binned_rel=hname)}")
    spark.catalog.dropTempView(hname)
    spark.catalog.dropTempView(out)
    return df


SPARK_OVERRIDES["streaming_drift_psi"] = _streaming_drift_psi_spark


def context_fit_stats(d: str) -> str:
    """Context-window packing audit per source: at each training context
    length (2048 / 8192 / 32768 whitespace tokens), how many docs fit
    whole, and what fraction of the source's token mass a truncate-to-fit
    policy would cut — the numbers that decide between truncation,
    splitting, and sequence packing (`sequence_packing` implements the
    packing side; this measures what's at stake). Plan shape: one scan
    computes per-doc token counts, the 3-row context dim cross-joins
    (broadcast by construction), one (source, ctx) agg."""
    toks = TA.token_counts_sql("text", d)["ws_tokens"]
    ctx = (
        "SELECT explode(array(2048, 8192, 32768)) AS ctx"
        if d == "spark"
        else "SELECT unnest([2048, 8192, 32768]) AS ctx"
    )
    return f"""
WITH t AS (SELECT source, CAST({toks} AS BIGINT) AS v FROM documents),
c AS ({ctx})
SELECT t.source AS source,
       CAST(c.ctx AS INT) AS context_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN t.v <= c.ctx THEN 1 ELSE 0 END) AS BIGINT) AS n_fit,
       CAST(SUM(CASE WHEN t.v > c.ctx THEN t.v - c.ctx ELSE 0 END) AS BIGINT)
           AS truncated_tokens,
       CAST(round(CAST(SUM(CASE WHEN t.v > c.ctx THEN t.v - c.ctx ELSE 0 END)
                       AS DOUBLE) / nullif(SUM(t.v), 0), 6) AS DOUBLE)
           AS truncated_frac
FROM t CROSS JOIN c
GROUP BY t.source, c.ctx
ORDER BY source, context_tokens
"""


TEMPLATES["context_fit_stats"] = context_fit_stats


def _cross_source_dup_body(d: str, rel: str = "sigs", pairs_sql: str | None = None,
                           docs_rel: str = "documents", thr: float = 0.5) -> str:
    """Source-pair rollup of the minhash near-dup pair graph, reading from
    signature relation `rel` (computed once on Spark: COMPUTE_ONCE; shared
    via ``pairs_sql``/``docs_rel``/``thr`` with curate_corpus's accounting
    report)."""
    from oaim_sandbox_spark.queries_dedup import _minhash_pairs_body

    if pairs_sql is None:
        pairs_sql = _minhash_pairs_body(d, rel=rel)
    lo = "least(da.source, db.source)"
    hi = "greatest(da.source, db.source)"
    return f"""
WITH pairs AS ({pairs_sql}),
strong AS (SELECT doc_a, doc_b, est_jaccard FROM pairs
           WHERE est_jaccard >= CAST({thr} AS DOUBLE)),
labeled AS (
  SELECT {lo} AS source_a, {hi} AS source_b, s.est_jaccard AS est_jaccard
  FROM strong s
  JOIN {docs_rel} da ON da.doc_id = s.doc_a
  JOIN {docs_rel} db ON db.doc_id = s.doc_b
)
SELECT source_a, source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(round({P.exact_avg('est_jaccard', d, 9)}, 6) AS DOUBLE) AS mean_est_jaccard
FROM labeled
GROUP BY source_a, source_b
ORDER BY source_a, source_b
"""


def cross_source_duplicate_matrix(d: str) -> str:
    """WHO duplicates WHOM: the near-dup pair graph rolled up to unordered
    source pairs — the crawl-triage view that `near_dup_rate_by_source`
    (per-source rate) and `dedup_degree_profile` (per-source accounting)
    don't give: a hot (A, B) off-diagonal cell means B re-hosts A's
    content (mirror/scraper/syndication) and one of them can be dropped
    from the crawl entirely, which is cheaper than deduplicating it
    forever. Diagonal cells are within-source duplication. Plan shape:
    pair graph once (banded, text never shuffles), two slim int64 joins
    to fetch sources, one dim-sized (source, source) agg."""
    from oaim_sandbox_spark.queries_dedup import _minhash_sigs_sql

    body = _cross_source_dup_body(d)
    return body.replace(
        "WITH pairs AS (", f"WITH sigs AS ({_minhash_sigs_sql(d)}), pairs AS (", 1
    )


TEMPLATES["cross_source_duplicate_matrix"] = cross_source_duplicate_matrix
COMPUTE_ONCE["cross_source_duplicate_matrix"] = ("sigs",)


# -- round-9 additions: dedup survivorship/stage-overlap accounting, gate
# confound + split-balance + vocab-loss audits, packing fragmentation,
# boilerplate prefixes, label-geometry margins --------------------------------


def _dedup_survivorship_body(d: str, rel: str = "sigs") -> str:
    """Directional winner/loser rollup of the strong near-dup pair graph,
    reading from signature relation `rel` (computed once on Spark:
    COMPUTE_ONCE).

    Winner semantics (review r9): pair generation emits doc_a < doc_b and
    the pipeline drops every doc that appears as a GREATER id in any strong
    pair — so a doc_a is only a true survivor if it is never itself a
    doc_b (in a chain 1<2<3, doc 2 loses to 1 AND drops 3; crediting 2 as
    a winner misattributes — measured 4/28 pairs on sf0.001). `surv` keeps
    only pairs whose lesser side actually survives the run; each lost doc
    is then attributed to ONE winner (its minimum surviving direct
    partner), so n_docs_lost sums globally without double counting.
    Chain-middle docs whose every strong partner was also dropped have no
    surviving DIRECT partner and are deliberately out of scope here —
    transitive canonical attribution is `near_dup_clusters`' connected-
    components job."""
    from oaim_sandbox_spark.queries_dedup import _minhash_pairs_body

    return f"""
WITH pairs AS ({_minhash_pairs_body(d, rel=rel)}),
strong AS (SELECT doc_a, doc_b FROM pairs WHERE est_jaccard >= CAST(0.5 AS DOUBLE)),
dropped AS (SELECT DISTINCT doc_b AS doc_id FROM strong),
surv AS (
  SELECT s.doc_a AS doc_a, s.doc_b AS doc_b
  FROM strong s LEFT JOIN dropped dr ON s.doc_a = dr.doc_id
  WHERE dr.doc_id IS NULL
),
attributed AS (SELECT doc_b, MIN(doc_a) AS winner FROM surv GROUP BY doc_b),
cells AS (
  SELECT sv.doc_a AS doc_a, sv.doc_b AS doc_b,
         CASE WHEN at.winner = sv.doc_a THEN 1 ELSE 0 END AS is_attr
  FROM surv sv JOIN attributed at ON sv.doc_b = at.doc_b
)
SELECT dk.source AS winner_source, dl.source AS loser_source,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(c.is_attr) AS BIGINT) AS n_docs_lost
FROM cells c
JOIN documents dk ON dk.doc_id = c.doc_a
JOIN documents dl ON dl.doc_id = c.doc_b
GROUP BY dk.source, dl.source
ORDER BY winner_source, loser_source
"""


def dedup_survivorship_matrix(d: str) -> str:
    """WHO WINS the dedup war: the near-dup pair graph rolled up to
    DIRECTIONAL (winner_source, loser_source) cells under the pipeline's
    first-wins (min-id) drop rule. `cross_source_duplicate_matrix` says A
    and B share content; this says whose COPY survives — the attribution /
    licensing / crawl-priority question (if B always loses to A, B's crawl
    contributes nothing the dedup stage keeps). Plan shape: pair graph once
    (banded, text never shuffles), two slim int64 joins for sources, one
    dim-sized directional agg. Cites reference parity target: the sandbox's
    split/embed pipeline dedups chunks by content (src/content/embedding.py
    drop_duplicates) with the same first-occurrence semantics."""
    from oaim_sandbox_spark.queries_dedup import _minhash_sigs_sql

    body = _dedup_survivorship_body(d)
    return body.replace(
        "WITH pairs AS (", f"WITH sigs AS ({_minhash_sigs_sql(d)}), pairs AS (", 1
    )


TEMPLATES["dedup_survivorship_matrix"] = dedup_survivorship_matrix
COMPUTE_ONCE["dedup_survivorship_matrix"] = ("sigs",)


def _dedup_stage_overlap_body(d: str, rel: str = "sigs") -> str:
    """Near-dup pairs split into exact-duplicate vs near-only, per source of
    the dropped doc, reading from signature relation `rel`."""
    from oaim_sandbox_spark.queries_dedup import _minhash_pairs_body

    fp = TA.fingerprint_sql("text", d)
    return f"""
WITH pairs AS ({_minhash_pairs_body(d, rel=rel)}),
strong AS (SELECT doc_a, doc_b FROM pairs WHERE est_jaccard >= CAST(0.5 AS DOUBLE)),
fps AS (SELECT doc_id, source, {fp} AS f FROM documents),
j AS (
  SELECT s.doc_b AS doc_b, fb.source AS source,
         CASE WHEN fa.f = fb.f THEN 1 ELSE 0 END AS is_exact
  FROM strong s
  JOIN fps fa ON fa.doc_id = s.doc_a
  JOIN fps fb ON fb.doc_id = s.doc_b
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_near_pairs,
       CAST(SUM(is_exact) AS BIGINT) AS n_also_exact,
       CAST(SUM(1 - is_exact) AS BIGINT) AS n_near_only,
       CAST(COUNT(DISTINCT CASE WHEN is_exact = 0 THEN doc_b END) AS BIGINT)
           AS n_docs_near_only,
       CAST(round(CAST(SUM(1 - is_exact) AS DOUBLE) / COUNT(*), 6) AS DOUBLE)
           AS near_only_frac
FROM j GROUP BY source ORDER BY source
"""


def dedup_stage_overlap(d: str) -> str:
    """The VALUE-ADD audit of the near-dup stage over exact dedup: of the
    strong near-dup pairs (est_jaccard >= 0.5), how many are byte-identical
    (the cheap exact stage would have caught them) vs near-ONLY (what
    minhash actually buys), per source of the dropped doc. A source with
    near_only_frac ~ 0 doesn't need the LSH pass at all — run it through
    the hash-groupBy exact stage and skip the banding shuffle. Plan shape:
    pair graph once, fingerprints are one md5 projection, two slim joins,
    per-source agg."""
    from oaim_sandbox_spark.queries_dedup import _minhash_sigs_sql

    body = _dedup_stage_overlap_body(d)
    return body.replace(
        "WITH pairs AS (", f"WITH sigs AS ({_minhash_sigs_sql(d)}), pairs AS (", 1
    )


TEMPLATES["dedup_stage_overlap"] = dedup_stage_overlap
COMPUTE_ONCE["dedup_stage_overlap"] = ("sigs",)


def quality_length_confound(d: str) -> str:
    """IS THE QUALITY GATE JUST A LENGTH GATE? Per source: the Pearson
    correlation and OLS slope of the quality score on ln(chars), plus the
    fraction of docs where the two gates (source-mean quality cut vs
    source-mean length cut) AGREE. corr ~ 1 with high agreement means the
    learned/heuristic quality filter is redundant with a length floor —
    drop the expensive one. Closed-form moment sums (one scan, per-source
    agg); the dim-sized per-source means broadcast back for the agreement
    pass. nullif guards zero variance (a constant-quality source yields
    NULL corr, not a crash)."""
    qs = TA.quality_score_sql("text", d)
    return f"""
WITH q AS (
  SELECT source, CAST({qs} AS DOUBLE) AS y,
         ln(CAST(nullif(n_chars, 0) AS DOUBLE)) AS x
  FROM documents WHERE n_chars > 0
),
m AS (
  SELECT source, COUNT(*) AS n, AVG(x) AS mx, AVG(y) AS my,
         AVG(x * y) AS mxy, AVG(x * x) AS mxx, AVG(y * y) AS myy
  FROM q GROUP BY source
),
stats AS (
  SELECT source, n, mx, my,
         (mxy - mx * my) AS cov,
         nullif(mxx - mx * mx, 0) AS varx,
         nullif(sqrt((mxx - mx * mx) * (myy - my * my)), 0) AS sds
  FROM m
)
SELECT q.source AS source,
       CAST(MAX(s.n) AS BIGINT) AS n_docs,
       CAST(round(MAX(s.cov / s.sds), 6) AS DOUBLE) AS corr_quality_length,
       CAST(round(MAX(s.cov / s.varx), 6) AS DOUBLE) AS ols_slope,
       CAST(round(CAST(SUM(CASE WHEN (q.y >= s.my) = (q.x >= s.mx)
                                THEN 1 ELSE 0 END) AS DOUBLE)
                  / COUNT(*), 6) AS DOUBLE) AS gate_agreement
FROM q JOIN stats s ON q.source = s.source
GROUP BY q.source ORDER BY q.source
"""


TEMPLATES["quality_length_confound"] = quality_length_confound


def split_balance_audit(d: str) -> str:
    """Stratification validator for the hash train/valid/test split: per
    (source, split), the doc count, the split's share WITHIN the source,
    the split's GLOBAL share, and the absolute deviation between them. A
    deterministic hash split is only unbiased in expectation — small
    sources can land lopsided (all-test source = useless for training,
    all-train = uncovered by eval), and this is the audit that catches it
    before a run. Same salted hash as train_test_split, so it audits the
    ACTUAL split the pipeline ships. All fractions derive from integer
    counts — no float-order wobble. One scan, two dim-sized aggs."""
    key = _str("doc_id", d) + " || '-split-v1'"
    h = f"({P.hash64(key, d)} % 10)"
    return f"""
WITH s AS (
  SELECT source,
         CASE WHEN {h} < 8 THEN 'train' WHEN {h} = 8 THEN 'valid'
              ELSE 'test' END AS split
  FROM documents
),
per AS (SELECT source, split, COUNT(*) AS n FROM s GROUP BY source, split),
tot AS (SELECT source, COUNT(*) AS nt FROM s GROUP BY source),
g AS (SELECT split, COUNT(*) AS ng FROM s GROUP BY split),
gt AS (SELECT COUNT(*) AS nn FROM s)
SELECT per.source AS source, per.split AS split,
       CAST(per.n AS BIGINT) AS n_docs,
       CAST(round(CAST(per.n AS DOUBLE) / tot.nt, 6) AS DOUBLE) AS frac_in_source,
       CAST(round(CAST(g.ng AS DOUBLE) / gt.nn, 6) AS DOUBLE) AS frac_global,
       CAST(round(abs(CAST(per.n AS DOUBLE) / tot.nt
                      - CAST(g.ng AS DOUBLE) / gt.nn), 6) AS DOUBLE) AS abs_dev
FROM per JOIN tot ON per.source = tot.source
JOIN g ON per.split = g.split CROSS JOIN gt
ORDER BY source, split
"""


TEMPLATES["split_balance_audit"] = split_balance_audit


def packing_fragmentation_curve(d: str) -> str:
    """Context-length selection curve for concatenative (GPT-style) packing:
    at each candidate context size, how many docs STRADDLE a pack boundary
    (get split across attention windows — their long-range structure is
    lost) and how many boundaries the corpus crosses. Pairs with
    `context_fit_stats` (truncation cost) to pick the context length: small
    contexts fragment, huge contexts waste attention. The grid here
    (256/1024/4096) is sized to the test corpus's per-source token mass so
    the curve is non-degenerate at every SF; a production run passes its
    real candidate grid (2k/8k/32k). Packing runs PER SOURCE shard exactly
    like `sequence_packing` (window partitioned by source — no global
    sort), the context dim is 3 broadcast rows, and the fragmentation test
    is pure integer arithmetic on the running sum."""
    n_tok = f"size({P.tokens('text', d)})" if d == "spark" else f"len({P.tokens('text', d)})"
    w = "(PARTITION BY source ORDER BY doc_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    before = f"(SUM(n_tokens) OVER {w} - n_tokens)"
    ctx = (
        "SELECT explode(array(256, 1024, 4096)) AS ctx"
        if d == "spark"
        else "SELECT unnest([256, 1024, 4096]) AS ctx"
    )
    first_pack = _idiv("t.before", "c.ctx", d)
    last_pack = _idiv("(t.before + t.n_tokens - 1)", "c.ctx", d)
    return f"""
WITH toks AS (
  SELECT source, doc_id, n_tokens, {before} AS before
  FROM (SELECT source, doc_id, {n_tok} AS n_tokens FROM documents) x
),
c AS ({ctx})
SELECT CAST(c.ctx AS INT) AS context_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN t.n_tokens > 0
                      AND {first_pack} <> {last_pack}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
       CAST(round(CAST(SUM(CASE WHEN t.n_tokens > 0
                                 AND {first_pack} <> {last_pack}
                                THEN 1 ELSE 0 END) AS DOUBLE)
                  / COUNT(*), 6) AS DOUBLE) AS split_frac,
       CAST(SUM(CASE WHEN t.n_tokens > 0 THEN {last_pack} - {first_pack}
                     ELSE 0 END) AS BIGINT) AS n_boundary_crossings
FROM toks t CROSS JOIN c
GROUP BY c.ctx
ORDER BY context_tokens
"""


TEMPLATES["packing_fragmentation_curve"] = packing_fragmentation_curve


def boilerplate_prefix_profile(d: str) -> str:
    """Crawler-boilerplate detection by DOCUMENT PREFIX: per source, the most
    common first-8-token prefix, how many docs share it, and its share of
    the source. A dominant prefix (share >> 1/n) is a template header the
    extractor failed to strip — the fix is an extractor rule, which is
    cheaper than letting the n-gram suppressor fight it downstream.
    Complements `boilerplate_gram_fraction` (grams anywhere in the doc) by
    localizing the repetition to the document HEAD, where templates live.
    Plan shape: one prefix projection, (source, prefix) count agg, then the
    argmax via a per-source MAX join + MIN-prefix tie-break — deliberately
    NOT a rank window: the count relation is corpus-sized in the worst case
    (every prefix unique), and a per-source window would sort a whole
    source's prefixes in one partition; two hash aggs shuffle the same keys
    with no sort."""
    toks = P.tokens("text", d)
    prefix = P.array_slice_concat(toks, "1", 8, d)
    return f"""
WITH p AS (SELECT source, {prefix} AS prefix FROM documents),
counts AS (SELECT source, prefix, COUNT(*) AS n FROM p GROUP BY source, prefix),
tot AS (SELECT source, COUNT(*) AS nt, COUNT(DISTINCT prefix) AS n_prefixes
        FROM p GROUP BY source),
mx AS (SELECT source AS msource, MAX(n) AS mn FROM counts GROUP BY source),
top AS (
  SELECT c.source AS source, MIN(c.prefix) AS prefix, MAX(c.n) AS n
  FROM counts c JOIN mx ON c.source = mx.msource AND c.n = mx.mn
  GROUP BY c.source
)
SELECT r.source AS source, r.prefix AS top_prefix,
       CAST(r.n AS BIGINT) AS n_docs_with_prefix,
       CAST(round(CAST(r.n AS DOUBLE) / t.nt, 6) AS DOUBLE) AS prefix_share,
       CAST(t.n_prefixes AS BIGINT) AS n_distinct_prefixes
FROM top r JOIN tot t ON r.source = t.source
ORDER BY source
"""


TEMPLATES["boilerplate_prefix_profile"] = boilerplate_prefix_profile


def filter_vocab_loss(d: str) -> str:
    """VOCABULARY COST of a quality gate: per source, the distinct-BIGRAM
    vocabulary of the full corpus vs the subset passing the source-mean
    quality cut, and the lost fraction. Aggressive quality filters are
    known to strip tail vocabulary (rare names, technical terms live in
    'messy' docs), and the loss shows in n-gram space first — unigram
    vocabularies are too coarse (every common word survives any plausible
    gate; measured 0 loss on the test corpus). The cut is a MEAN (exact
    aggregate — no quantile interpolation wobble). Plan shape: one scan
    scores docs, the dim-sized per-source means broadcast back, one bigram
    explode into a (source, gram) agg carrying a max pass flag — the same
    key-hash shuffle the vocab queries use; text never joins."""
    qs = TA.quality_score_sql("text", d)
    toks = P.word_ngrams("lower(text)", 2, d)
    expl = (
        f"SELECT source, qs, explode({toks}) AS tok FROM q"
        if d == "spark"
        else f"SELECT source, qs, unnest({toks}) AS tok FROM q"
    )
    return f"""
WITH q AS (SELECT source, text, CAST({qs} AS DOUBLE) AS qs FROM documents),
thr AS (SELECT source AS tsource, AVG(qs) AS cut FROM q GROUP BY source),
ex AS ({expl}),
flags AS (
  SELECT ex.source AS source, ex.tok AS tok,
         MAX(CASE WHEN ex.qs >= thr.cut THEN 1 ELSE 0 END) AS kept
  FROM ex JOIN thr ON ex.source = thr.tsource
  GROUP BY ex.source, ex.tok
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS vocab_total,
       CAST(SUM(kept) AS BIGINT) AS vocab_kept,
       CAST(COUNT(*) - SUM(kept) AS BIGINT) AS vocab_lost,
       CAST(round(CAST(COUNT(*) - SUM(kept) AS DOUBLE) / COUNT(*), 6) AS DOUBLE)
           AS vocab_loss_frac
FROM flags GROUP BY source ORDER BY source
"""


TEMPLATES["filter_vocab_loss"] = filter_vocab_loss


def label_centroid_margin(d: str) -> str:
    """Pre-training separability audit of a labeled embedding store: per
    label, the mean cosine distance of members to their OWN centroid
    (intra) vs the distance to the NEAREST other centroid (inter), and the
    margin ratio inter/intra — the Fisher-style signal for whether a
    classifier head has anything to learn (margin ~ 1 = labels are
    geometrically indistinct; relabel or re-embed before burning GPU
    hours). Dimensions pivot through the fixed 1..64 index relation
    (embedding_centroid_outliers pattern) so the centroid is a plain
    (label, dim) AVG; the centroid-to-centroid pass is k^2 x 64 rows —
    trivially broadcast at any corpus size."""
    x = _elem("embedding", "i", d)
    return f"""
WITH idx AS ({_dim_idx(d)}),
expl AS (
  SELECT label, vec_id, i, CAST({x} AS DOUBLE) AS x
  FROM embeddings CROSS JOIN idx
),
cent AS (SELECT label, i, AVG(x) AS c FROM expl GROUP BY label, i),
own AS (
  SELECT e.vec_id AS vec_id, e.label AS label,
         SUM(e.x * c.c) AS dp, SUM(e.x * e.x) AS nx, SUM(c.c * c.c) AS nc
  FROM expl e JOIN cent c ON e.label = c.label AND e.i = c.i
  GROUP BY e.vec_id, e.label
),
intra AS (
  SELECT label, COUNT(*) AS n,
         AVG(1.0 - dp / nullif(sqrt(nx) * sqrt(nc), 0)) AS intra_dist
  FROM own GROUP BY label
),
cpairs AS (
  SELECT a.label AS la, b.label AS lb,
         SUM(a.c * b.c) AS dp, SUM(a.c * a.c) AS na, SUM(b.c * b.c) AS nb
  FROM cent a JOIN cent b ON a.i = b.i AND a.label <> b.label
  GROUP BY a.label, b.label
),
inter AS (
  SELECT la AS label,
         MIN(1.0 - dp / nullif(sqrt(na) * sqrt(nb), 0)) AS inter_dist
  FROM cpairs GROUP BY la
)
SELECT CAST(i.label AS INT) AS label,
       CAST(i.n AS BIGINT) AS n_vectors,
       CAST(round(i.intra_dist, 6) AS DOUBLE) AS intra_dist,
       CAST(round(x.inter_dist, 6) AS DOUBLE) AS nearest_inter_dist,
       CAST(round(x.inter_dist / nullif(i.intra_dist, 0), 6) AS DOUBLE) AS margin
FROM intra i JOIN inter x ON i.label = x.label
ORDER BY label
"""


TEMPLATES["label_centroid_margin"] = label_centroid_margin


def _quality_gate_sql(d: str, rel: str = "documents") -> str:
    """Per-source quality-gate monitor body: docs seen, docs passing the
    FIXED 0.5 score cut, mean score, pass fraction. The threshold is an
    absolute constant (not a source mean) deliberately: the streaming twin
    runs it in complete mode where a self-referential mean would need a
    second pass — a fixed cut keeps state at one agg row per source."""
    qs = TA.quality_score_sql("text", d)
    return f"""
WITH q AS (SELECT source, CAST({qs} AS DOUBLE) AS qs FROM {rel})
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN qs >= CAST(0.5 AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pass,
       CAST(round({P.exact_avg('qs', d, 9)}, 6) AS DOUBLE) AS mean_quality,
       CAST(round(CAST(SUM(CASE WHEN qs >= CAST(0.5 AS DOUBLE) THEN 1 ELSE 0 END)
                       AS DOUBLE) / COUNT(*), 6) AS DOUBLE) AS pass_frac
FROM q GROUP BY source ORDER BY source
"""


def streaming_quality_gate(d: str) -> str:
    """Continuous ingest-quality monitor THROUGH Structured Streaming (the
    11th streaming entry, Spark override): the per-source quality-gate
    rollup as an availableNow file stream → complete-mode agg → memory
    sink — the dashboard a 100 TB crawl feeds so a source whose pass_frac
    collapses is paused at the crawler, not discovered at training time.
    Scoring is a stateless per-row projection, so streaming state is ONE
    row per source forever. Over a static directory the stream equals the
    batch SQL, which is this entry's oracle."""
    return _quality_gate_sql(d)


TEMPLATES["streaming_quality_gate"] = streaming_quality_gate


def _streaming_quality_gate_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid as _uuid

    from oaim_sandbox_spark.queries_registry import _stream_shuffle

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    vname = f"docs_qstream_{_uuid.uuid4().hex[:8]}"
    stream.createOrReplaceTempView(vname)
    agg = spark.sql(_quality_gate_sql("spark", rel=vname))
    out = f"stream_qgate_{_uuid.uuid4().hex[:8]}"
    with _stream_shuffle(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(out)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    spark.catalog.dropTempView(vname)
    return spark.table(out)


SPARK_OVERRIDES["streaming_quality_gate"] = _streaming_quality_gate_spark


# -- round-9 second batch: dup-cluster shape, LSH banding trade-off, int8
# error profile, temperature-mixture ESS curve --------------------------------


def dup_cluster_size_histogram(d: str) -> str:
    """SHAPE of the duplicate graph: connected components over the simhash
    near-pair graph (the `near_dup_clusters` relation) rolled up to a
    cluster-size histogram — clusters per size, docs per size, and the
    whitespace-token mass the first-wins canonicalization drops from each
    size class. The diagnostic that separates 'mostly pairs' corpora
    (mirrors) from deep template chains (one canonical per thousands —
    fix the extractor, don't dedup). Oracle: THE near_dup_clusters
    reach relation (shared `_cc_reach_prefix` — one definition, review r9)
    + two dim-sized aggs; Spark runner: the shared CC labels builder then
    the identical rollup."""
    from oaim_sandbox_spark.queries_training import _cc_reach_prefix

    toks = TA.token_counts_sql("text", d)["ws_tokens"]
    return f"""
{_cc_reach_prefix(d)},
comp AS (SELECT src AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY src),
toks AS (SELECT doc_id, CAST({toks} AS BIGINT) AS t FROM documents),
sized AS (
  SELECT c.cluster_id AS cluster_id, COUNT(*) AS cluster_size,
         SUM(CASE WHEN c.doc_id <> c.cluster_id THEN t.t ELSE 0 END) AS dropped_toks
  FROM comp c JOIN toks t ON c.doc_id = t.doc_id
  GROUP BY c.cluster_id
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
       CAST(SUM(dropped_toks) AS BIGINT) AS dropped_tokens
FROM sized GROUP BY cluster_size ORDER BY cluster_size
"""


TEMPLATES["dup_cluster_size_histogram"] = dup_cluster_size_histogram


def _dup_cluster_hist_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark runner: THE near_dup_clusters CC labels builder
    (queries_registry._cc_labels_spark — shared, review r9) + the identical
    size/token rollup — shuffles only int64 (node, label) tuples."""
    from pyspark.sql import functions as F

    # lazy: queries_registry star-imports this module — a module-level
    # import here would be circular
    from oaim_sandbox_spark.queries_registry import _cc_labels_spark

    register_views(spark, sf_dir)
    labels = _cc_labels_spark(spark)
    toks = spark.sql(
        f"SELECT doc_id, CAST({TA.token_counts_sql('text', 'spark')['ws_tokens']} AS BIGINT) AS t FROM documents"
    )
    sized = (
        labels.join(toks, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("cluster_size"),
            F.sum(F.when(F.col("doc_id") != F.col("cluster_id"), F.col("t"))
                   .otherwise(0)).alias("dropped_toks"),
        )
    )
    return (
        sized.groupBy(F.col("cluster_size").cast("long").alias("cluster_size"))
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum("cluster_size").cast("long").alias("n_docs"),
            F.sum("dropped_toks").cast("long").alias("dropped_tokens"),
        )
        .orderBy("cluster_size")
    )


SPARK_OVERRIDES["dup_cluster_size_histogram"] = _dup_cluster_hist_spark


def _banding_pairs_counts(d: str, rel: str, bands: int) -> str:
    """Candidate + strong pair counts for ONE (bands, rows) configuration
    over the NUM_PERM-perm signature relation `rel` — the per-config leg
    of lsh_banding_tradeoff. Built on queries_dedup's single-source-of-
    truth banding/agreement helpers (review r9: a local copy would stop
    tracking a NUM_PERM retune and silently mis-tune the table)."""
    from oaim_sandbox_spark.queries_dedup import (
        NUM_PERM,
        _lsh_banded_cte,
        _sig_eq_terms,
    )

    rows = NUM_PERM // bands
    banded = _lsh_banded_cte(d, rel, bands=bands)
    eq = _sig_eq_terms(d)
    # strong = est_jaccard >= 0.5, i.e. at least half the positions agree
    return f"""
SELECT {bands} AS bands, {rows} AS rows_per_band,
       COUNT(*) AS n_candidates,
       SUM(CASE WHEN ({eq}) >= {NUM_PERM // 2} THEN 1 ELSE 0 END) AS n_strong
FROM (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM ({banded}) l JOIN ({banded}) r
    ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
   AND l.doc_id < r.doc_id
) p
JOIN {rel} a ON a.doc_id = p.doc_a
JOIN {rel} b ON b.doc_id = p.doc_b
"""


def lsh_banding_tradeoff(d: str) -> str:
    """(b, r) TUNING TABLE for minhash-LSH: at each banding of the same
    16-perm signatures (2x8, 4x4, 8x2), the candidate-pair count and how
    many candidates are actually strong (est_jaccard >= 0.5) — the
    measured precision curve behind the 1-(1-s^r)^b collision formula.
    Few wide bands = high precision / misses borderline dups; many narrow
    bands = recall at quadratic candidate cost. This is the query a
    pipeline runs on a corpus SAMPLE before fixing its banding. Plan
    shape: signatures computed once (COMPUTE_ONCE on Spark), three
    bucket-bounded self-joins over slim (id, band_hash) rows; text never
    shuffles."""
    from oaim_sandbox_spark.queries_dedup import _minhash_sigs_sql

    legs = " UNION ALL ".join(_banding_pairs_counts(d, "sigs", b) for b in (2, 4, 8))
    return f"""
WITH sigs AS ({_minhash_sigs_sql(d)})
SELECT CAST(bands AS INT) AS bands, CAST(rows_per_band AS INT) AS rows_per_band,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_strong AS BIGINT) AS n_strong,
       CAST(round(CAST(n_strong AS DOUBLE) / nullif(n_candidates, 0), 6) AS DOUBLE)
           AS precision_at_05
FROM ({legs}) t
ORDER BY bands
"""


TEMPLATES["lsh_banding_tradeoff"] = lsh_banding_tradeoff
COMPUTE_ONCE["lsh_banding_tradeoff"] = ("sigs",)


def quantization_error_profile(d: str) -> str:
    """PRE-DEPLOYMENT audit of the int8 tier on THIS store: per label, the
    mean/max absolute dequantization error and the mean cosine shift
    between each vector and its int8 round-trip — the numeric companion to
    the tier-guard's recall probe (recall collapse always shows here
    first as a fat max_abs_err / cosine_shift tail). Uses the EXACT
    quantizer the serving tier uses (P.absmax / P.quantize_int8:
    floor(x/s*127+0.5), engine-independent where round() half-way rules
    differ). Dimensions pivot through the fixed 1..64 index relation —
    plain per-vector aggs, no UDFs, one scan."""
    x = f"CAST({_elem('v.embedding', 'i', d)} AS DOUBLE)"
    return f"""
WITH idx AS ({_dim_idx(d)}),
v AS (
  SELECT vec_id, label, embedding,
         {P.absmax(P.to_double_array('embedding', d), d)} AS s
  FROM embeddings
),
expl AS (
  SELECT v.vec_id AS vec_id, v.label AS label, {x} AS x,
         floor({x} / v.s * 127.0 + 0.5) * v.s / 127.0 AS xq
  FROM v CROSS JOIN idx
),
pv AS (
  SELECT vec_id, label,
         AVG(abs(x - xq)) AS mean_err, MAX(abs(x - xq)) AS max_err,
         SUM(x * xq) AS dp, SUM(x * x) AS nx, SUM(xq * xq) AS nq
  FROM expl GROUP BY vec_id, label
)
SELECT CAST(label AS INT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(round({P.exact_avg('mean_err', d, 9)}, 6) AS DOUBLE) AS mean_abs_err,
       CAST(round(MAX(max_err), 6) AS DOUBLE) AS max_abs_err,
       CAST(round({P.exact_avg('1.0 - dp / nullif(sqrt(nx) * sqrt(nq), 0)', d, 9)}, 6)
            AS DOUBLE) AS mean_cosine_shift
FROM pv GROUP BY label ORDER BY label
"""


TEMPLATES["quantization_error_profile"] = quantization_error_profile


def mixture_ess_curve(d: str) -> str:
    """Temperature-mixture DESIGN CURVE: at each sampling temperature tau
    (0.3, 0.7, 1.0), the source weights w_s ~ (n_s/N)^tau (normalized),
    the effective number of sources 1/sum(w^2) (ESS — how many sources the
    mixture REALLY draws from), and the max per-source epoch multiplier
    w_s*N/n_s (how hard the smallest upweighted source is recycled).
    `domain_temperature_weights` computes the weights at one tau; this is
    the curve a mixture designer scans before choosing it — low tau
    maximizes ESS but recycles tail sources hardest (the UniMax
    motivation). Mass = whitespace-TOKEN mass per source (what a sampler
    actually draws), not doc count — the test corpus's doc counts are
    uniform by construction, which would make every tau identical.
    Closed-form: one scan + two dim-sized aggs and a 3-row broadcast tau
    dim."""
    toks = TA.token_counts_sql("text", d)["ws_tokens"]
    taus = (
        "SELECT explode(array(CAST(0.3 AS DOUBLE), CAST(0.7 AS DOUBLE), "
        "CAST(1.0 AS DOUBLE))) AS tau"
        if d == "spark"
        else "SELECT unnest([0.3::DOUBLE, 0.7::DOUBLE, 1.0::DOUBLE]) AS tau"
    )
    return f"""
WITH c AS (SELECT source, CAST(SUM({toks}) AS DOUBLE) AS n FROM documents GROUP BY source),
tot AS (SELECT SUM(n) AS nn FROM c),
t AS ({taus}),
w AS (
  SELECT t.tau AS tau, c.source AS source, c.n AS n, tot.nn AS nn,
         power(c.n / tot.nn, t.tau) AS raw
  FROM c CROSS JOIN tot CROSS JOIN t
),
z AS (SELECT tau, SUM(raw) AS zsum FROM w GROUP BY tau)
SELECT CAST(w.tau AS DOUBLE) AS tau,
       CAST(COUNT(*) AS BIGINT) AS n_sources,
       CAST(round(1.0 / SUM((w.raw / z.zsum) * (w.raw / z.zsum)), 6) AS DOUBLE)
           AS ess_sources,
       CAST(round(MAX((w.raw / z.zsum) * w.nn / w.n), 6) AS DOUBLE)
           AS max_epochs,
       CAST(round(MIN((w.raw / z.zsum) * w.nn / w.n), 6) AS DOUBLE)
           AS min_epochs
FROM w JOIN z ON w.tau = z.tau
GROUP BY w.tau ORDER BY tau
"""


TEMPLATES["mixture_ess_curve"] = mixture_ess_curve


# -- round-9 third batch: ANN-assumption audits -------------------------------


def sign_balance_audit(d: str) -> str:
    """DIRECT test of the sign-bit tier's distribution assumption: the
    binary-Hamming tier packs sign bits, which carries information only
    where each dimension is roughly sign-BALANCED across the store
    (tier_guard's header: 'sign-bit Hamming assumes centered/dense
    values' — on the engine's hashed-BoW features it measured 0.16
    recall@10, and the failure is visible HERE first: non-negative
    features are 100% one-signed, so every packed word is constant). Per
    dimension: fraction positive, the |2p-1| skew, and a dead-bit flag
    (skew > 0.98 = the bit contributes ~nothing to any Hamming distance).
    One scan through the fixed 1..EMBED_DIM pivot, one (dim) agg — run it
    before `recommend_tiers` to know WHY a refusal happened."""
    x = f"CAST({_elem('embedding', 'i', d)} AS DOUBLE)"
    return f"""
WITH idx AS ({_dim_idx(d)}),
s AS (
  SELECT i, CAST(SUM(CASE WHEN {x} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS pos,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM embeddings CROSS JOIN idx
  GROUP BY i
),
sk AS (
  SELECT i, round(pos / n, 6) AS fp, round(abs(2.0 * pos / n - 1.0), 6) AS skew
  FROM s
)
SELECT CAST(i AS INT) AS dim,
       CAST(fp AS DOUBLE) AS frac_positive,
       CAST(skew AS DOUBLE) AS sign_skew,
       CAST(CASE WHEN skew > 0.98 THEN 1 ELSE 0 END AS INT) AS dead_bit
FROM sk ORDER BY dim
"""


TEMPLATES["sign_balance_audit"] = sign_balance_audit


def norm_anova_by_label(d: str) -> str:
    """One-way ANOVA of embedding NORMS across labels — the cheap scalar
    companion to `label_centroid_margin`: a significant between-label norm
    difference means magnitude alone leaks the label (dot-product ranking
    will favor some labels structurally; normalize before cosine tiers or
    expect per-label recall skew). Per label: n, mean/std of the L2 norm;
    one summary row contract via the global F-statistic column repeated
    per label (between-group MS / within-group MS, both from the same
    moment sums). One scan, two dim-sized aggs, closed form — no window.

    Numeric design (review r9b — the first integer-micro-unit form
    quantized every unit-normalized norm to the SAME value, making F NULL
    on exactly the stores it targets, i.e. the certified oracle never
    exercised the statistic): moments accumulate over MIN-CENTERED
    deviations x = nrm - min(nrm). Each nrm is bit-identical across
    engines (the dot HOF folds the array left-to-right — per-row IEEE
    ops, no aggregation order), MIN is order-independent, and centering
    removes the catastrophic cancellation of sum(nrm^2) - n*mean^2 around
    nrm ~ 1: the residual cross-engine noise is sum-ORDER ulps on sums of
    ~x-scale values, ~1e-10 relative on the F — far inside the 6-decimal
    contract. Columns report micro-scale deviations so the fixture's
    ~1e-7-wide norm distribution is visible: std/spread in MICRO-norm
    units (1e6 x), F dimensionless."""
    nrm = f"sqrt({P.dot(P.to_double_array('embedding', d), P.to_double_array('embedding', d), d)})"
    return f"""
WITH v AS (SELECT label, {nrm} AS nrm FROM embeddings),
c AS (SELECT MIN(nrm) AS c0 FROM v),
w AS (SELECT label, (nrm - c.c0) AS x FROM v CROSS JOIN c),
per AS (
  SELECT label, CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS s1, SUM(x * x) AS s2
  FROM w GROUP BY label
),
g AS (SELECT SUM(n) AS nn, COUNT(*) AS k, SUM(s1) AS gs1 FROM per),
f AS (
  SELECT ((SUM(per.s1 * per.s1 / per.n)
           - MAX(g.gs1) * MAX(g.gs1) / MAX(g.nn)) / (MAX(g.k) - 1))
         / nullif((SUM(per.s2) - SUM(per.s1 * per.s1 / per.n))
                  / (MAX(g.nn) - MAX(g.k)), 0)
         AS fstat
  FROM per CROSS JOIN g
)
SELECT CAST(per.label AS INT) AS label,
       CAST(per.n AS BIGINT) AS n_vectors,
       CAST(round(per.s1 / per.n * CAST(1000000 AS DOUBLE), 6) AS DOUBLE)
           AS mean_dev_micro,
       CAST(round(sqrt(greatest((per.s2 - per.s1 * per.s1 / per.n)
                                / nullif(per.n - 1.0, 0), 0.0))
                  * CAST(1000000 AS DOUBLE), 6) AS DOUBLE) AS std_norm_micro,
       CAST(round(f.fstat, 6) AS DOUBLE) AS f_stat
FROM per CROSS JOIN f
ORDER BY label
"""


TEMPLATES["norm_anova_by_label"] = norm_anova_by_label


def knn_hubness_histogram(d: str) -> str:
    """HUBNESS audit of the embedding space: how often each vector appears
    in OTHER vectors' exact-cosine top-5 (its k-occurrence), rolled up to
    a histogram. High-dimensional stores develop hubs — vectors that are
    'near' a pathological share of queries — which silently dominate ANN
    results and poison kNN label consensus; a fat k-occurrence tail is the
    signature (Radovanovic et al., JMLR 2010). This exact all-pairs form
    is the oracle (the knn_label_consensus pattern); at 100 TB the same
    in-degree roll-up runs over IVFIndex.search_batch hit lists — the
    funnel the consensus twin already demonstrates. Plan shape: one
    broadcast-NLJ self-score over PRE-NORMED rows (r13 opt: cast + norm
    factored per row, one dot fold per pair — bit-identical, see
    `_emb_prenorm_sql`), rank window over slim tuples, two hash aggs."""
    dist = P.cosine_distance_prenorm("a.av", "b.av", "a.nrm", "b.nrm", d)
    return f"""
WITH en AS ({_emb_prenorm_sql(d, cols="vec_id")}),
nb AS (
  SELECT b.vec_id AS hit,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
                            ORDER BY round({dist}, 6) ASC, b.vec_id ASC) AS rnk
  FROM en a JOIN en b ON a.vec_id <> b.vec_id
),
deg AS (SELECT hit, COUNT(*) AS k_occ FROM nb WHERE rnk <= 5 GROUP BY hit),
alln AS (
  SELECT e.vec_id AS vec_id, COALESCE(deg.k_occ, 0) AS k_occ
  FROM embeddings e LEFT JOIN deg ON e.vec_id = deg.hit
)
SELECT CAST(k_occ AS BIGINT) AS k_occurrence,
       CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM alln GROUP BY k_occ ORDER BY k_occurrence
"""


TEMPLATES["knn_hubness_histogram"] = knn_hubness_histogram


# -- round-9 final pair: hourly autocorrelation, dedup method agreement -------


def hourly_autocorr_by_type(d: str) -> str:
    """Lag-1 autocorrelation of the hourly event-count series per event
    type — the time-series diagnostic between `dow_seasonality` (weekly
    structure) and `cusum_changepoint` (level shifts): near-zero autocorr
    means hourly arrivals are memoryless (Poisson-ish — rate alerts can
    use simple thresholds), high autocorr means bursts persist across
    hours (alerts need burst-aware baselines like trailing_hour_stats).
    Computed over a ZERO-FILLED dense hour spine per type (min..max hour —
    review r9c: joining only observed consecutive hours silently drops
    sparse types from the output and biases the statistic on exactly the
    rare types an alert designer needs) from integer count moments; the
    only floats are the final divisions. The spine is hours x types —
    trivially bounded at any corpus scale. One hourly agg, the spine
    LEFT JOIN, one slim self-join on hour+1, one per-type agg."""
    hr = _idiv(_ts_us(d), "3600000000", d)
    spine = (
        "SELECT bt AS event_type, explode(sequence(mn, mx)) AS h FROM b"
        if d == "spark"
        else "SELECT bt AS event_type, unnest(generate_series(mn, mx)) AS h FROM b"
    )
    return f"""
WITH hc AS (
  SELECT event_type, CAST({hr} AS BIGINT) AS h, COUNT(*) AS c
  FROM events GROUP BY event_type, {hr}
),
b AS (SELECT event_type AS bt, MIN(h) AS mn, MAX(h) AS mx FROM hc GROUP BY event_type),
spine AS ({spine}),
dense AS (
  SELECT s.event_type AS event_type, s.h AS h, COALESCE(hc.c, 0) AS c
  FROM spine s LEFT JOIN hc ON hc.event_type = s.event_type AND hc.h = s.h
),
pairs AS (
  SELECT a.event_type AS event_type, a.c AS x, b2.c AS y
  FROM dense a JOIN dense b2 ON a.event_type = b2.event_type AND b2.h = a.h + 1
),
m AS (
  SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM pairs GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_hour_pairs,
       CAST(round(CAST(sx + sy AS DOUBLE) / (2 * n), 6) AS DOUBLE)
           AS mean_hourly_count,
       CAST(round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                  / nullif(sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                                * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)),
                           0), 6) AS DOUBLE) AS lag1_autocorr
FROM m ORDER BY event_type
"""


TEMPLATES["hourly_autocorr_by_type"] = hourly_autocorr_by_type


def _dedup_method_agreement_body(d: str, sig_rel: str = "sigs",
                                 fps_rel: str = "fps") -> str:
    """Pair-set agreement between the two near-dup families, reading from
    the given signature/fingerprint relations (shared with the Spark
    override, which materializes each once)."""
    from oaim_sandbox_spark.queries_dedup import _minhash_pairs_body, _simhash_pairs_body

    # strip BOTH bodies' trailing sorts: the pair relations are filtered
    # and re-joined immediately — an embedded ORDER BY is wasted work
    # wherever sort elimination doesn't fire (review r9c)
    mh = _minhash_pairs_body(d, rel=sig_rel).replace("ORDER BY doc_a, doc_b", "")
    sh = _simhash_pairs_body(d, rel=fps_rel).replace("ORDER BY doc_a, doc_b", "")
    return f"""
mh AS (SELECT doc_a, doc_b FROM ({mh}) m WHERE est_jaccard >= CAST(0.5 AS DOUBLE)),
sh AS ({sh}),
u AS (
  SELECT COALESCE(mh.doc_a, sh.doc_a) AS doc_a,
         CASE WHEN mh.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_mh,
         CASE WHEN sh.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_sh
  FROM mh FULL OUTER JOIN sh
    ON mh.doc_a = sh.doc_a AND mh.doc_b = sh.doc_b
),
j AS (SELECT dd.source AS source, u.in_mh AS in_mh, u.in_sh AS in_sh
      FROM u JOIN documents dd ON dd.doc_id = u.doc_a)
SELECT source,
       CAST(SUM(in_mh) AS BIGINT) AS n_minhash,
       CAST(SUM(in_sh) AS BIGINT) AS n_simhash,
       CAST(SUM(in_mh * in_sh) AS BIGINT) AS n_both,
       CAST(round(CAST(SUM(in_mh * in_sh) AS DOUBLE) / COUNT(*), 6) AS DOUBLE)
           AS jaccard_agreement
FROM j GROUP BY source ORDER BY source
"""


def dedup_method_agreement(d: str) -> str:
    """DO THE TWO NEAR-DUP FAMILIES AGREE? Per source (of the pair's lesser
    doc), the strong minhash pair set (est_jaccard >= 0.5) vs the simhash
    near-pair set (hamming <= 3), their intersection, and the pair-set
    Jaccard. High agreement on a source means the cheaper family suffices
    there; systematic disagreement localizes where the families' blind
    spots differ (minhash: short docs with few shingles; simhash: long
    docs where a small edit flips few bits) — the method-selection audit
    `curate_corpus`'s near_dup= switch needs. Plan shape: both pair graphs
    are the existing certified banded bodies reading ONE materialized
    relation each; the FULL OUTER pair join is over slim int64 pairs."""
    from oaim_sandbox_spark.queries_dedup import _minhash_sigs_sql, _simhash_fps_sql

    return f"""
WITH sigs AS ({_minhash_sigs_sql(d)}),
fps AS ({_simhash_fps_sql(d)}),
{_dedup_method_agreement_body(d)}
"""


TEMPLATES["dedup_method_agreement"] = dedup_method_agreement
COMPUTE_ONCE["dedup_method_agreement"] = ("sigs", "fps")


# -- round-10 additions: pipeline audits (Gopher rules, ingest-state curve,
# -- Heaps fit, labeler kappa, CE matrix) + engine audits (lateness, skew) ----


def gopher_quality_rules(d: str) -> str:
    """GOPHER RULE AUDIT (Rae et al. 2021 §A1.1 — the published heuristic
    filter suite for web-scale LLM corpora): per source, how many docs fail
    each rule — word count in [50, 100k], mean word length in [3, 10],
    symbol-to-word ratio (#/ellipsis) <= 0.1, >= 80% alphabetic words,
    >= 2 stopword hits — plus the all-rules pass rate. The per-RULE
    breakdown is what the existing composite quality_score hides: it tells
    you WHICH rule would gut a source before you ship the filter (a source
    failing only the stopword rule is non-English, not junk). One scan,
    per-doc token-array ops (no explode), one dim-sized agg; empty docs
    fail the word-count rule by definition, never divide.

    Rule fidelity (r10 review): alpha counts WORDS containing an alphabetic
    character (element-level list filter — a raw-text regexp_count counts
    RUNS and overcounts words that mix classes, letting a failing source
    pass); the symbol pattern covers '#', the one-char ellipsis AND the
    three-dot form. The body is relation-parameterized so
    curate_corpus(report="quality_rules") emits the SAME rows over the
    pipeline's own input frame (shared SQL — the report and the certified
    entry cannot drift apart)."""
    return _gopher_rules_body(d)


def _gopher_rules_body(d: str, rel: str = "documents") -> str:
    toks = P.tokens("text", d)
    n_words = P.list_len(toks, d)
    alpha_words = P.list_count_matching(toks, "[A-Za-z]", d)
    symbols = P.regexp_count_portable("text", "#|…|\\.\\.\\.", d)
    all_stop = sorted({w for ws in TA.STOPWORDS.values() for w in ws})
    stop_hits = P.stopword_hits(P.tokens("lower(text)", d), all_stop, d)
    chars_nospace = "length(replace(text, ' ', ''))"
    return f"""
WITH sig AS (
  SELECT source,
         {n_words} AS nw,
         {alpha_words} AS aw,
         {symbols} AS sym,
         {stop_hits} AS sh,
         {chars_nospace} AS cns
  FROM {rel}
),
r AS (
  SELECT source,
         CASE WHEN nw < 50 OR nw > 100000 THEN 1 ELSE 0 END AS f_wordcount,
         CASE WHEN nw = 0 OR CAST(cns AS DOUBLE) / nullif(nw, 0) < 3.0
                   OR CAST(cns AS DOUBLE) / nullif(nw, 0) > 10.0 THEN 1 ELSE 0 END AS f_meanlen,
         CASE WHEN nw > 0 AND CAST(sym AS DOUBLE) / nw > 0.1 THEN 1 ELSE 0 END AS f_symbol,
         CASE WHEN nw = 0 OR CAST(aw AS DOUBLE) / nullif(nw, 0) < 0.8 THEN 1 ELSE 0 END AS f_alpha,
         CASE WHEN sh < 2 THEN 1 ELSE 0 END AS f_stopword
  FROM sig
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(f_wordcount) AS BIGINT) AS fail_wordcount,
       CAST(SUM(f_meanlen) AS BIGINT) AS fail_mean_word_len,
       CAST(SUM(f_symbol) AS BIGINT) AS fail_symbol_ratio,
       CAST(SUM(f_alpha) AS BIGINT) AS fail_alpha_frac,
       CAST(SUM(f_stopword) AS BIGINT) AS fail_stopword,
       CAST(SUM(CASE WHEN f_wordcount + f_meanlen + f_symbol + f_alpha
                          + f_stopword = 0 THEN 1 ELSE 0 END) AS BIGINT) AS pass_all,
       CAST(round(CAST(SUM(CASE WHEN f_wordcount + f_meanlen + f_symbol + f_alpha
                                     + f_stopword = 0 THEN 1 ELSE 0 END) AS DOUBLE)
                  / COUNT(*), 6) AS DOUBLE) AS pass_all_rate
FROM r GROUP BY source ORDER BY source
"""


TEMPLATES["gopher_quality_rules"] = gopher_quality_rules


def late_arrival_profile(d: str) -> str:
    """WATERMARK-LATENESS AUDIT over the event stream: per event_type, how
    far events arrive behind the running event-time high-water mark (arrival
    order = event_id, the ingest sequence). This is the measurement that
    SIZES a Structured Streaming watermark before a job ships: late_60s /
    late_600s are the rows a withWatermark('1 minute'/'10 minutes') would
    drop, and max_lateness_us bounds the state horizon. Integer microsecond
    arithmetic end to end — zero float wobble. Plan shape: one window over
    (event_type, event_id) — the same per-key ordering the streaming
    operator itself needs — then a dim-sized agg.

    The generated corpora are globally ts-ordered by event_id, so the
    oracle certification exercises the all-zeros path only (r10 review: a
    sign flip or swapped thresholds would certify green on such data). The
    NONZERO path is pinned by tests/test_extended_queries.py::
    test_late_arrival_profile_nonzero_path, which runs this same body
    (via rel=) over a synthetic out-of-order stream on BOTH engines and
    checks hand-computed lateness counts."""
    return "\n" + _late_arrival_body(d)


def _late_arrival_body(d: str, rel: str = "events") -> str:
    return f"""
WITH e AS (SELECT event_type, event_id, {_ts_us(d)} AS ts_us FROM {rel}),
w AS (
  SELECT event_type, ts_us,
         MAX(ts_us) OVER (PARTITION BY event_type ORDER BY event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hwm
  FROM e
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN hwm - ts_us > 60000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS late_60s,
       CAST(SUM(CASE WHEN hwm - ts_us > 600000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS late_600s,
       CAST(MAX(hwm - ts_us) AS BIGINT) AS max_lateness_us,
       CAST({_idiv("SUM(hwm - ts_us)", "COUNT(*)", d)} AS BIGINT) AS mean_lateness_us
FROM w GROUP BY event_type ORDER BY event_type
"""


TEMPLATES["late_arrival_profile"] = late_arrival_profile


def heaps_law_fit(d: str) -> str:
    """HEAPS'-LAW FIT per source: vocabulary growth V = K * N^beta over the
    cumulative token stream (docs in doc_id order), fitted by closed-form
    OLS on (ln N, ln V) with one point per doc. beta is the canonical
    vocabulary-growth exponent (~0.4-0.6 for natural language; ~0 for a
    closed template vocabulary) — the companion to zipf_alpha_by_lang that
    tells a tokenizer-training budget how much NEW vocab more data buys per
    source. Shape: one token explode -> first-occurrence doc per (source,
    token) -> per-source cumulative windows over doc-dim rows -> moment
    agg. The explode is the same relation kl_divergence_by_source scans;
    everything after is source x doc dim-sized. The cum relation is read
    TWICE (moment fit + totals) — Spark computes it once (COMPUTE_ONCE)
    (doc-dim sized), so the corpus is exploded exactly twice (first-
    occurrence + per-doc counts), never four times.

    The OLS moments accumulate via P.exact_avg (scale 9: |x|,|y| <= ~17,
    |x*y| <= ~290, so BIGINT holds ~3e7 points/source) — plain AVG over
    doubles is partial-merge-order dependent and can flip a 6th-decimal
    output boundary across runs (the coreset incident; VERDICT r10 #2)."""
    return f"""
WITH cum AS ({_heaps_cum_sql(d)}),
{_heaps_fit_body(d)}
"""


def _heaps_cum_sql(d: str) -> str:
    """(source, doc_id, cum_toks, cum_types) — cumulative token/vocab curve
    per source in doc_id order; doc-dim sized."""
    toks = P.tokens("text", d)
    if d == "spark":
        tok = f"SELECT source, doc_id, tok FROM documents LATERAL VIEW explode({toks}) t AS tok"
    else:
        tok = f"SELECT source, doc_id, unnest({toks}) AS tok FROM documents"
    return f"""
WITH tk AS ({tok}),
first_occ AS (
  SELECT source, tok, MIN(doc_id) AS first_doc FROM tk GROUP BY source, tok
),
new_per_doc AS (
  SELECT source, first_doc AS doc_id, COUNT(*) AS new_types
  FROM first_occ GROUP BY source, first_doc
),
toks_per_doc AS (
  SELECT source, doc_id, COUNT(*) AS n_toks FROM tk GROUP BY source, doc_id
)
SELECT t.source AS source, t.doc_id AS doc_id,
       SUM(t.n_toks) OVER (PARTITION BY t.source ORDER BY t.doc_id) AS cum_toks,
       SUM(COALESCE(n.new_types, 0))
           OVER (PARTITION BY t.source ORDER BY t.doc_id) AS cum_types
FROM toks_per_doc t
LEFT JOIN new_per_doc n ON t.source = n.source AND t.doc_id = n.doc_id
"""


def _heaps_fit_body(d: str, cum_rel: str = "cum") -> str:
    return f"""pts AS (
  SELECT source, ln(CAST(cum_toks AS DOUBLE)) AS x, ln(CAST(cum_types AS DOUBLE)) AS y
  FROM {cum_rel} WHERE cum_toks > 0 AND cum_types > 0
),
m AS (
  SELECT source, COUNT(*) AS n,
         {P.exact_avg('x', d, 9)} AS mx, {P.exact_avg('y', d, 9)} AS my,
         {P.exact_avg('x * y', d, 9)} AS mxy, {P.exact_avg('x * x', d, 9)} AS mxx,
         MIN(x) AS xlo, MAX(x) AS xhi
  FROM pts GROUP BY source
),
tot AS (
  SELECT source, MAX(cum_toks) AS total_tokens, MAX(cum_types) AS vocab_size
  FROM {cum_rel} GROUP BY source
)
SELECT m.source AS source,
       CAST(m.n AS BIGINT) AS n_points,
       CAST(tot.total_tokens AS BIGINT) AS total_tokens,
       CAST(tot.vocab_size AS BIGINT) AS vocab_size,
       -- degenerate x (single point / all-equal cum curve) must yield
       -- NULL on both engines: with grid-rounded moments (exact_avg),
       -- mxx - mx*mx is no longer EXACTLY zero there (r11 hypothesis pin
       -- caught the junk slope), so the guard is the exact MIN(x)=MAX(x)
       CAST(CASE WHEN m.xlo = m.xhi THEN NULL ELSE
            round((m.mxy - m.mx * m.my) / nullif(m.mxx - m.mx * m.mx, 0), 6)
            END + 0.0 AS DOUBLE) AS heaps_beta,
       CAST(CASE WHEN m.xlo = m.xhi THEN NULL ELSE
            round(exp(m.my - m.mx * (m.mxy - m.mx * m.my)
                             / nullif(m.mxx - m.mx * m.mx, 0)), 6)
            END AS DOUBLE) AS heaps_k
FROM m JOIN tot ON m.source = tot.source
ORDER BY source
"""


TEMPLATES["heaps_law_fit"] = heaps_law_fit
COMPUTE_ONCE["heaps_law_fit"] = ("cum",)


def dedup_ingest_order_curve(d: str) -> str:
    """INCREMENTAL-DEDUP STATE CURVE: exact-hash dedup processed in ingest
    order (doc_id), bucketed into ten ingest deciles — per decile the new
    uniques, the cumulative unique count (the dedup state size an
    incremental pipeline must hold at that point), and the cumulative
    duplicate rate. This is the sizing curve for incremental_neardup_probe
    style state: if cum_uniques flattens, late ingest is mostly duplicates
    and the state stops growing. Deciles come from the doc_id RANGE (min/max
    scalars broadcast back), NOT a global NTILE sort — fully parallel at
    100 TB; the only shuffle is the hash first-occurrence window over slim
    (hash, doc_id) tuples."""
    th = P.hash64("text", d)
    return f"""
WITH h AS (SELECT doc_id, {th} AS th FROM documents),
f AS (
  SELECT doc_id,
         CASE WHEN ROW_NUMBER() OVER (PARTITION BY th ORDER BY doc_id) = 1
              THEN 1 ELSE 0 END AS is_new
  FROM h
),
bounds AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
b AS (
  SELECT least(1 + {_idiv("(f.doc_id - bounds.lo) * 10", "(bounds.hi - bounds.lo + 1)", d)}, 10) AS decile,
         f.is_new AS is_new
  FROM f CROSS JOIN bounds
),
g AS (SELECT decile, COUNT(*) AS n_rows, SUM(is_new) AS new_uniques
      FROM b GROUP BY decile)
SELECT CAST(decile AS INT) AS decile,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(new_uniques AS BIGINT) AS new_uniques,
       CAST(SUM(new_uniques) OVER (ORDER BY decile) AS BIGINT) AS cum_uniques,
       CAST(round(1.0 - CAST(SUM(new_uniques) OVER (ORDER BY decile) AS DOUBLE)
                        / CAST(SUM(n_rows) OVER (ORDER BY decile) AS DOUBLE), 6)
            AS DOUBLE) AS cum_dup_rate
FROM g ORDER BY decile
"""


TEMPLATES["dedup_ingest_order_curve"] = dedup_ingest_order_curve


def key_skew_profile(d: str) -> str:
    """JOIN-KEY SKEW AUDIT for the keys the big joins shuffle on: per key
    column, total rows, distinct keys, the share of the single hottest key,
    the top-10 share, and the Herfindahl concentration (sum of squared key
    shares — 1/n_keys means uniform, 1.0 means one key owns everything).
    This is the measurement that decides salting / AQE skew-join BEFORE a
    1000-executor shuffle stalls on one reducer: top1_share * rows is the
    single-task row count a plain hash partition would produce. Count sums
    are integer; the squared terms are accumulated in DOUBLE (SUM(c*c) and
    SUM(c)*SUM(c) overflow int64 beyond ~3e9 rows — r10 review), with one
    final division — deterministic across engines. The ranking window is
    PARTITION BY key_col over the COUNTED key relation (one row per
    distinct key, int64 pair) — 50k keys rank in 0.9s over 3M rows
    (tools/stress.py r10audits); at billion-key cardinality, pre-aggregate
    a coarse count floor before ranking (only the top-10 matter) — the
    aggregates themselves are single-pass partial-combine either way."""
    return f"""
WITH k AS (
  SELECT 'events.user_id' AS key_col, CAST(user_id AS BIGINT) AS k FROM events
  UNION ALL
  SELECT 'lineitem.l_orderkey', CAST(l_orderkey AS BIGINT) FROM lineitem
  UNION ALL
  SELECT 'lineitem.l_partkey', CAST(l_partkey AS BIGINT) FROM lineitem
  UNION ALL
  SELECT 'orders.o_custkey', CAST(o_custkey AS BIGINT) FROM orders
),
c AS (SELECT key_col, k, COUNT(*) AS c FROM k GROUP BY key_col, k),
r AS (
  SELECT key_col, c,
         ROW_NUMBER() OVER (PARTITION BY key_col ORDER BY c DESC, k ASC) AS rnk
  FROM c
)
SELECT key_col,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(round(CAST(MAX(CASE WHEN rnk = 1 THEN c ELSE 0 END) AS DOUBLE)
                  / SUM(c), 6) AS DOUBLE) AS top1_share,
       CAST(round(CAST(SUM(CASE WHEN rnk <= 10 THEN c ELSE 0 END) AS DOUBLE)
                  / SUM(c), 6) AS DOUBLE) AS top10_share,
       CAST(round(SUM(CAST(c AS DOUBLE) * c)
                  / (CAST(SUM(c) AS DOUBLE) * SUM(c)), 6) AS DOUBLE)
           AS herfindahl
FROM r GROUP BY key_col ORDER BY key_col
"""


TEMPLATES["key_skew_profile"] = key_skew_profile


def source_crossentropy_matrix(d: str) -> str:
    """PAIRWISE cross-entropy matrix between source unigram LMs: for every
    (src_a, src_b), H(a, b) = -sum_w p_a(w) ln q_b(w) with q_b
    Laplace-smoothed over the corpus vocab (kl_divergence_by_source scores
    each source against the CORPUS; this is the source-to-source matrix a
    mixture designer reads to find which domains substitute for which —
    low H(a,b) means b's model predicts a's text). Same no-outer-join
    algebra as the KL entry: absent terms contribute through one closed
    form, (1 - overlap_mass) * ln(tot_b + V), so the only join is the
    token-overlap inner join between the two dim x vocab count relations.
    Output is |sources|^2 rows; also emits kl_ab = H(a,b) - H(a).

    The sc relation (source x vocab counts) is read FIVE times (entropy,
    both overlap sides, vocab, totals) — Spark computes it once
    (COMPUTE_ONCE; dim x vocab sized, small), cutting the plan from ten corpus
    explodes to one."""
    return f"""
WITH sc AS ({_source_token_counts_sql(d)}),
{_source_crossentropy_body(d)}
"""


def _source_token_counts_sql(d: str) -> str:
    """(source, tok, c) unigram counts — the one corpus explode."""
    toks = P.tokens("text", d)
    if d == "spark":
        tok = f"SELECT source, tok FROM documents LATERAL VIEW explode({toks}) t AS tok"
    else:
        tok = f"SELECT source, unnest({toks}) AS tok FROM documents"
    return f"SELECT source, tok, CAST(COUNT(*) AS DOUBLE) AS c FROM ({tok}) tk GROUP BY source, tok"


def _source_crossentropy_body(d: str, sc_rel: str = "sc") -> str:
    return f"""tot AS (SELECT source, SUM(c) AS tot FROM {sc_rel} GROUP BY source),
v AS (SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS vocab FROM {sc_rel}),
ent AS (
  SELECT s0.source AS source,
         -{P.exact_sum('(s0.c / tot.tot) * ln(s0.c / tot.tot)', d, 11)} AS h_a
  FROM {sc_rel} s0 JOIN tot ON s0.source = tot.source GROUP BY s0.source
),
ov AS (
  SELECT a.source AS src_a, b.source AS src_b,
         {P.exact_sum('a.c / ta.tot', d, 12)} AS overlap_mass,
         -{P.exact_sum('(a.c / ta.tot) * ln((b.c + 1.0) / (tb.tot + v.vocab))', d, 11)} AS h_present
  FROM {sc_rel} a
  JOIN {sc_rel} b ON a.tok = b.tok
  JOIN tot ta ON a.source = ta.source
  JOIN tot tb ON b.source = tb.source
  CROSS JOIN v
  GROUP BY a.source, b.source
),
pairs AS (
  SELECT ta.source AS src_a, tb.source AS src_b, ta.tot AS tot_a, tb.tot AS tot_b
  FROM tot ta CROSS JOIN tot tb
)
SELECT p.src_a AS src_a, p.src_b AS src_b,
       CAST(round(COALESCE(o.overlap_mass, 0.0), 6) AS DOUBLE) AS overlap_mass,
       CAST(round(COALESCE(o.h_present, 0.0)
                  + (1.0 - COALESCE(o.overlap_mass, 0.0))
                    * ln(p.tot_b + v.vocab), 6) AS DOUBLE) AS cross_entropy,
       CAST(round(COALESCE(o.h_present, 0.0)
                  + (1.0 - COALESCE(o.overlap_mass, 0.0)) * ln(p.tot_b + v.vocab)
                  - e.h_a, 6) + 0.0 AS DOUBLE) AS kl_ab
FROM pairs p
CROSS JOIN v
JOIN ent e ON p.src_a = e.source
LEFT JOIN ov o ON p.src_a = o.src_a AND p.src_b = o.src_b
ORDER BY src_a, src_b
"""


TEMPLATES["source_crossentropy_matrix"] = source_crossentropy_matrix
COMPUTE_ONCE["source_crossentropy_matrix"] = ("sc",)


def label_agreement_kappa(d: str) -> str:
    """COHEN'S KAPPA between two independent weak labelers, per source: a
    length rule (n_chars >= 200) vs a stopword-density rule
    (stopword_ratio >= 0.10). Raw agreement flatters labelers that both
    say 'yes' to everything; kappa subtracts chance agreement — the
    standard check before weak_label_vote treats rule votes as independent
    signal (kappa ~ 1 means the second rule adds nothing; ~ 0 means it is
    genuinely independent). po/pe derive from integer counts; the pe
    products are taken in DOUBLE (pa*pb overflows int64 beyond ~3e9 docs
    per source — r10 review) with one final division each — deterministic
    across engines. One scan, one dim-sized agg."""
    stop_ratio = TA.quality_metrics_sql("text", d)["stopword_ratio"]
    return f"""
WITH s AS (
  SELECT source,
         CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS la,
         CASE WHEN {stop_ratio} >= 0.10 THEN 1 ELSE 0 END AS lb
  FROM documents
),
g AS (
  SELECT source, COUNT(*) AS n, SUM(la) AS pa, SUM(lb) AS pb,
         SUM(la * lb) AS both_pos,
         SUM((1 - la) * (1 - lb)) AS both_neg
  FROM s GROUP BY source
)
SELECT source,
       CAST(n AS BIGINT) AS n_docs,
       CAST(pa AS BIGINT) AS pos_len_rule,
       CAST(pb AS BIGINT) AS pos_stopword_rule,
       CAST(both_pos + both_neg AS BIGINT) AS n_agree,
       CAST(round(
         (CAST((both_pos + both_neg) AS DOUBLE) / n
          - (CAST(pa AS DOUBLE) * pb + CAST(n - pa AS DOUBLE) * (n - pb))
            / (CAST(n AS DOUBLE) * n))
         / nullif(1.0 - (CAST(pa AS DOUBLE) * pb + CAST(n - pa AS DOUBLE) * (n - pb))
                        / (CAST(n AS DOUBLE) * n), 0),
         6) + 0.0 AS DOUBLE) AS kappa
FROM g ORDER BY source
"""


TEMPLATES["label_agreement_kappa"] = label_agreement_kappa


def ks_length_by_source(d: str) -> str:
    """KOLMOGOROV-SMIRNOV distance between each source's doc-length
    distribution and the corpus's: D = max_v |ECDF_src(v) - ECDF_corpus(v)|
    plus the length at which the gap peaks. PSI/KL need binning choices; KS
    is binning-free and exact on the integer n_chars column — the
    distribution-shift test that catches a source whose docs are
    systematically truncated or padded even when its MEAN length looks
    normal. Shape: per-(source, length) integer counts, a source x
    corpus-lengths grid (bounded: distinct lengths <= max doc length, a few
    thousand at any corpus size), cumulative windows per source, one max.
    ECDF values are single divisions of integer cumsums — exact across
    engines; ties on the argmax break to the smallest length."""
    return f"""
WITH sc AS (
  SELECT source, n_chars AS v, COUNT(*) AS c FROM documents GROUP BY source, n_chars
),
corp AS (SELECT v, SUM(c) AS c FROM sc GROUP BY v),
nsrc AS (SELECT source, SUM(c) AS n FROM sc GROUP BY source),
ncorp AS (SELECT SUM(c) AS n FROM corp),
grid AS (
  SELECT s.source AS source, cv.v AS v, COALESCE(sc.c, 0) AS c_src, cv.c AS c_corp
  FROM (SELECT DISTINCT source FROM sc) s
  CROSS JOIN corp cv
  LEFT JOIN sc ON sc.source = s.source AND sc.v = cv.v
),
cdf AS (
  SELECT g.source AS source, g.v AS v,
         CAST(SUM(g.c_src) OVER (PARTITION BY g.source ORDER BY g.v) AS DOUBLE)
           / ns.n AS f_src,
         CAST(SUM(g.c_corp) OVER (PARTITION BY g.source ORDER BY g.v) AS DOUBLE)
           / nc.n AS f_corp
  FROM grid g JOIN nsrc ns ON g.source = ns.source CROSS JOIN ncorp nc
),
dist AS (
  SELECT source, v, abs(f_src - f_corp) AS dgap,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY abs(f_src - f_corp) DESC, v ASC) AS rnk
  FROM cdf
)
SELECT d0.source AS source,
       CAST(ns.n AS BIGINT) AS n_docs,
       CAST(round(d0.dgap, 6) AS DOUBLE) AS ks_distance,
       CAST(d0.v AS BIGINT) AS ks_at_length
FROM dist d0 JOIN nsrc ns ON d0.source = ns.source
WHERE d0.rnk = 1
ORDER BY source
"""


TEMPLATES["ks_length_by_source"] = ks_length_by_source


def bigram_entropy_rate(d: str) -> str:
    """BIGRAM ENTROPY RATE per source: H(w2 | w1) = -sum p(w1,w2)
    ln(c12 / c1) — the first-order predictability of each source's text.
    zipf_alpha and char_entropy measure the MARGINAL distribution; the
    conditional entropy is what actually bounds a (bigram) language model's
    loss on the source, and a near-zero rate flags templated/boilerplate
    sources that unigram stats miss (every word frequent, every NEXT word
    deterministic). c1 is the count of w1 AS A BIGRAM PREFIX (not the raw
    unigram count), so probabilities normalize exactly. One bigram explode
    -> (source, w1, w2) counts -> broadcast-sized prefix join -> dim agg."""
    bg = P.word_ngrams("text", 2, d)
    if d == "spark":
        ex = (f"SELECT source, g FROM documents LATERAL VIEW explode({bg}) t AS g "
              f"WHERE size({P.tokens('text', d)}) >= 2")
    else:
        ex = (f"SELECT source, unnest({bg}) AS g FROM documents "
              f"WHERE len({P.tokens('text', d)}) >= 2")
    w1 = P.split_part1("g", d)
    return f"""
WITH bg AS ({ex}),
c12 AS (SELECT source, {w1} AS w1, g, COUNT(*) AS c FROM bg GROUP BY source, {w1}, g),
c1 AS (SELECT source, w1, SUM(c) AS c FROM c12 GROUP BY source, w1),
n AS (SELECT source, SUM(c) AS n FROM c12 GROUP BY source)
SELECT c12.source AS source,
       CAST(MAX(n.n) AS BIGINT) AS n_bigrams,
       CAST(COUNT(*) AS BIGINT) AS distinct_bigrams,
       CAST(round(-{P.exact_sum(
           '(CAST(c12.c AS DOUBLE) / n.n) * ln(CAST(c12.c AS DOUBLE) / c1.c)',
           d, 11)}, 6) + 0.0 AS DOUBLE)
           AS entropy_rate
FROM c12
JOIN c1 ON c12.source = c1.source AND c12.w1 = c1.w1
JOIN n ON c12.source = n.source
GROUP BY c12.source ORDER BY c12.source
"""


TEMPLATES["bigram_entropy_rate"] = bigram_entropy_rate


def session_concurrency_sweepline(d: str) -> str:
    """PEAK-CONCURRENCY sweep line over user sessions: sessionize events
    (30-min inactivity gap), turn each session into +1/-1 boundary deltas,
    and compute the running concurrent-session count WITHOUT a global
    sort — per-hour partial sums feed an hour-dim cumulative offset
    (broadcast-sized), and the within-hour running sum is a window
    PARTITIONED BY hour, so the sweep parallelizes by time bucket (the
    same two-pass trick the round-4 NTILE fix used). The classic interval
    operator the engine lacked: capacity planning reads max_concurrent per
    hour; hours with no boundary carry the previous level (densify with
    the hourly_gapfill pattern if needed). An hour's peak is the max of
    its post-delta levels AND the level CARRIED INTO the hour (r10 review:
    an hour whose first boundaries are session ends would otherwise
    under-report — e.g. one session spanning 10:30-12:30 peaks at 1 in
    hour 12 before its only boundary, a -1). Integer microseconds and
    counts end to end. Sessions that touch (end == next start) do not
    overlap: the end delta fires at e + 1. The session relation is read
    three times
    (both delta branches + the per-hour starts), so Spark computes it
    once (COMPUTE_ONCE) — the sessionization windows over the raw event
    stream are the dominant cost at scale and must not re-run per read."""
    return f"""
WITH sess AS ({_sessions_sql(d)}),
{_sweepline_body(d)}
"""


def _sessions_sql(d: str, events_rel: str = "events") -> str:
    """(user_id, sid, s, e) gap-sessionized intervals from the event
    stream (30-min inactivity break), epoch-micros bounds. The break fires
    at gap >= 30min — Structured Streaming session_window semantics and
    the SAME boundary as the certified streaming_sessions entry (r10
    review: a strict > here made the two sessionizers disagree on events
    spaced exactly 30min apart, so the capacity numbers would contradict
    the session_window deployment this audit sizes)."""
    lag = "LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)"
    return f"""
WITH e AS (SELECT user_id, event_id, {_ts_us(d)} AS ts_us FROM {events_rel}),
brk AS (
  SELECT user_id, ts_us,
         CASE WHEN {lag} IS NULL OR ts_us - {lag} >= 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM e
)
SELECT user_id, sid, MIN(ts_us) AS s, MAX(ts_us) AS e
FROM (
  SELECT user_id, ts_us,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us) AS sid
  FROM brk
) sess0
GROUP BY user_id, sid
"""


def _sweepline_body(d: str, sess_rel: str = "sess") -> str:
    hour = _idiv("t", "3600000000", d)
    return f"""pts AS (
  SELECT s AS t, 1 AS d FROM {sess_rel}
  UNION ALL
  SELECT e + 1 AS t, -1 AS d FROM {sess_rel}
),
tp AS (SELECT t, SUM(d) AS d FROM pts GROUP BY t),
tph AS (SELECT t, d, {hour} AS hour_id FROM tp),
hsum AS (SELECT hour_id, SUM(d) AS hd FROM tph GROUP BY hour_id),
hoff AS (
  SELECT hour_id, SUM(hd) OVER (ORDER BY hour_id) - hd AS off FROM hsum
),
run AS (
  SELECT tph.hour_id AS hour_id,
         hoff.off AS carry_in,
         hoff.off + SUM(tph.d) OVER (PARTITION BY tph.hour_id ORDER BY tph.t)
             AS conc
  FROM tph JOIN hoff ON tph.hour_id = hoff.hour_id
),
starts AS (
  SELECT {_idiv("s", "3600000000", d)} AS hour_id, COUNT(*) AS n_started
  FROM {sess_rel} GROUP BY {_idiv("s", "3600000000", d)}
)
SELECT r.hour_id AS hour_id,
       CAST(COUNT(*) AS BIGINT) AS n_boundaries,
       CAST(GREATEST(MAX(r.conc), MAX(r.carry_in)) AS BIGINT) AS max_concurrent,
       CAST(COALESCE(MAX(st.n_started), 0) AS BIGINT) AS sessions_started
FROM run r LEFT JOIN starts st ON r.hour_id = st.hour_id
GROUP BY r.hour_id ORDER BY hour_id
"""


TEMPLATES["session_concurrency_sweepline"] = session_concurrency_sweepline
COMPUTE_ONCE["session_concurrency_sweepline"] = ("sess",)


# ---------------------------------------------------------------------------
# Round-11 corpus/embedding audit family. Conventions as everywhere: dual
# dialect, round(x, 6) floats, exact integer accumulation (P.exact_sum /
# P.exact_avg) for every large-N or boundary-sensitive float aggregate,
# deterministic ORDER BY. Reference anchor: these extend the SURVEY §2
# beyond-reference training-data suite; none have a reference counterpart.


def _ngram_explode_sql(d: str, n: int) -> str:
    """(source, g) explode of word n-grams, docs shorter than n excluded
    (word_ngrams degenerates to a whole-text pseudo-gram there). ONE
    definition shared by distinct_ngram_diversity and its registered HLL
    scale path (queries_registry._approx_ngram_diversity_spark) so the
    tokenization/filter semantics cannot drift apart (r11 review)."""
    toks = P.tokens("text", d)
    g = P.word_ngrams("text", n, d)
    if d == "spark":
        return (f"SELECT source, g FROM documents LATERAL VIEW explode({g}) t AS g "
                f"WHERE size({toks}) >= {n}")
    return f"SELECT source, unnest({g}) AS g FROM documents WHERE len({toks}) >= {n}"


def distinct_ngram_diversity(d: str) -> str:
    """N-GRAM DIVERSITY per source: distinct-bigram and distinct-trigram
    ratios (the corpus-level self-BLEU-lite detector for templated or
    model-generated text — natural corpora sit near d2 ~0.5-0.9 at small
    scale while boilerplate floods and greedy-decoded synthetic text
    collapse toward 0). Complements ngram_novelty_decay (NEW n-grams by
    ingest decile) with the per-source stationary ratio. Shape: one
    explode per n (2, 3) -> two-level distinct agg (COUNT DISTINCT is
    map-side partial-distinct, no pair joins), dim-sized join. Docs with
    fewer than n tokens are excluded from the n-gram branch (word_ngrams
    degenerates to a whole-text pseudo-gram there). Ratios are single
    divisions of exact integers — merge-order independent by construction;
    sources with no trigram-capable docs keep their row with NULL d3
    (LEFT JOIN) identically on both engines."""
    b2 = _ngram_explode_sql(d, 2)
    b3 = _ngram_explode_sql(d, 3)
    return f"""
WITH a2 AS (SELECT source, COUNT(*) AS n2, COUNT(DISTINCT g) AS u2 FROM ({b2}) x GROUP BY source),
a3 AS (SELECT source, COUNT(*) AS n3, COUNT(DISTINCT g) AS u3 FROM ({b3}) y GROUP BY source)
SELECT a2.source AS source,
       CAST(a2.n2 AS BIGINT) AS n_bigrams,
       CAST(a2.u2 AS BIGINT) AS distinct_bigrams,
       CAST(round(CAST(a2.u2 AS DOUBLE) / a2.n2, 6) AS DOUBLE) AS d2,
       CAST(COALESCE(a3.n3, 0) AS BIGINT) AS n_trigrams,
       CAST(COALESCE(a3.u3, 0) AS BIGINT) AS distinct_trigrams,
       CAST(round(CAST(a3.u3 AS DOUBLE) / nullif(a3.n3, 0), 6) AS DOUBLE) AS d3
FROM a2 LEFT JOIN a3 ON a2.source = a3.source
ORDER BY source
"""


TEMPLATES["distinct_ngram_diversity"] = distinct_ngram_diversity


def hapax_ttr_by_source(d: str) -> str:
    """HAPAX RATE + TYPE-TOKEN RATIO per source: vocabulary size, tokens
    appearing exactly once (hapax legomena), TTR = vocab/tokens and
    hapax share of the vocabulary — the classic lexical-richness pair
    (natural text keeps a fat hapax tail, ~40-60% of vocab; a collapsed
    hapax share flags templated/deduplicated-to-death sources, and a
    near-1 share flags OCR noise/gibberish). heaps_law_fit measures vocab
    GROWTH; this is the stationary per-source summary a mixture designer
    scans first. Shape: one explode -> (source, tok) counts (map-side
    combinable) -> dim-sized agg of exact integers; every ratio is a
    single division."""
    toks = P.tokens("text", d)
    if d == "spark":
        tok = f"SELECT source, tok FROM documents LATERAL VIEW explode({toks}) t AS tok"
    else:
        tok = f"SELECT source, unnest({toks}) AS tok FROM documents"
    return f"""
WITH tk AS ({tok}),
c AS (SELECT source, tok, COUNT(*) AS c FROM tk GROUP BY source, tok)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS total_tokens,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       CAST(round(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS DOUBLE) AS ttr,
       CAST(round(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                  / COUNT(*), 6) AS DOUBLE) AS hapax_rate
FROM c GROUP BY source ORDER BY source
"""


TEMPLATES["hapax_ttr_by_source"] = hapax_ttr_by_source


def doc_length_tail_index(d: str) -> str:
    """HEAVY-TAIL INDEX of the doc-length distribution per source (Hill
    estimator over the top-k order statistics): alpha_hill =
    k / sum_{i<=k} ln(L_(i) / L_(k+1)). doc_len_percentiles reads the
    body of the distribution; the TAIL index is what sequence-packing and
    batch-shaping actually depend on (alpha <= 1 means the longest docs
    dominate total token mass and a packer needs a split-long-docs rule;
    alpha >> 2 means truncation waste is negligible). k adapts to small
    sources: k_used = min(100, n_docs - 1), the reference length is the
    (k_used+1)-th largest, and sources with fewer than 2 positive-length
    docs (or an all-equal top: sum = 0) yield no row / NULL alpha
    identically on both engines. Shape: per-source top-(k+1) via a rank
    window over (source, n_chars) — at 100 TB this is the classic top-k
    pattern (partial per-partition top-101 before the shuffle); the Hill
    sum is <= 100 bounded terms via P.exact_sum scale 12."""
    return f"""
WITH r AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS rnk,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents WHERE n_chars > 0
),
kk AS (SELECT source, LEAST(101, MAX(n)) AS kref FROM r GROUP BY source),
ref AS (
  SELECT r.source AS source, r.n_chars AS xref, kk.kref AS kref
  FROM r JOIN kk ON r.source = kk.source AND r.rnk = kk.kref
)
SELECT r.source AS source,
       CAST(COUNT(*) AS BIGINT) AS k_used,
       CAST(MAX(ref.xref) AS BIGINT) AS ref_length,
       CAST(round(COUNT(*) / nullif({P.exact_sum(
           'ln(CAST(r.n_chars AS DOUBLE) / ref.xref)', d, 12)}, 0), 6)
            AS DOUBLE) AS hill_alpha
FROM r
JOIN ref ON r.source = ref.source
WHERE r.rnk < ref.kref
GROUP BY r.source
ORDER BY source
"""


TEMPLATES["doc_length_tail_index"] = doc_length_tail_index


def int8_saturation_profile(d: str) -> str:
    """INT8 QUANTIZER SATURATION audit per label: the fraction of vector
    elements that quantize to the +/-127 rail and the mean code-range
    utilization |q|/127 — the quantizer-health companion to
    quantization_error_profile (which measures round-trip ERROR): with
    per-vector absmax scaling a healthy store uses most of the code range
    (utilization ~0.3-0.6 for gaussian-ish dims) while a single outlier
    dimension per vector shows up as near-zero utilization everywhere
    else, the signal to switch to per-dimension or clipped scaling BEFORE
    shipping the int8 tier. Uses the EXACT serving quantizer algebra
    (P.absmax + floor(x/s*127+0.5), operators/ann.quantize_embeddings
    parity). Every aggregate is over exact integers — no float
    accumulation at all."""
    x = f"CAST({_elem('v.embedding', 'i', d)} AS DOUBLE)"
    return f"""
WITH idx AS ({_dim_idx(d)}),
v AS (
  SELECT vec_id, label, embedding,
         {P.absmax(P.to_double_array('embedding', d), d)} AS s
  FROM embeddings
),
q AS (
  SELECT v.label AS label,
         abs(CAST(floor({x} / v.s * 127.0 + 0.5) AS BIGINT)) AS aq
  FROM v CROSS JOIN idx
)
SELECT CAST(label AS INT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vals,
       CAST(SUM(CASE WHEN aq >= 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_saturated,
       CAST(round(CAST(SUM(CASE WHEN aq >= 127 THEN 1 ELSE 0 END) AS DOUBLE)
                  / COUNT(*), 6) AS DOUBLE) AS sat_frac,
       CAST(round(CAST(SUM(aq) AS DOUBLE) / (127.0 * COUNT(*)), 6) AS DOUBLE)
           AS mean_code_util
FROM q GROUP BY label ORDER BY label
"""


TEMPLATES["int8_saturation_profile"] = int8_saturation_profile


def embedding_effective_rank(d: str) -> str:
    """EFFECTIVE RANK (participation ratio) of the embedding space per
    label: (tr C)^2 / tr(C^2) over the per-label covariance matrix C —
    the anisotropy/collapse audit for an embedding column (a healthy
    64-dim space scores tens; a rank-collapsed or cone-shaped space — the
    classic representation-collapse failure — scores near 1-3, and every
    cosine-based dedup/ANN/centroid operator above it silently degrades).
    No eigensolver needed: tr C = sum of dim variances, tr(C^2) = sum of
    squared covariances, both closed-form from first/second moments.
    Shape: ONE corpus scan exploded to (label, dim-pair) cells — the
    UPPER TRIANGLE only, a.i <= b.i, 2080 of the 4096 cells (covariance
    is symmetric; trc2 doubles the off-diagonal squares back) — linear in
    store size, map-side combinable agg over label x 2080 groups; moments
    via P.exact_avg scale 9, trace sums over <= 2080 bounded terms via
    P.exact_sum scale 12."""
    xa = f"CAST({_elem('v.embedding', 'a.i', d)} AS DOUBLE)"
    xb = f"CAST({_elem('v.embedding', 'b.i', d)} AS DOUBLE)"
    x1 = f"CAST({_elem('v.embedding', 'a.i', d)} AS DOUBLE)"
    return f"""
WITH idx AS ({_dim_idx(d)}),
m2 AS (
  -- covariance is symmetric, so only the upper triangle (a.i <= b.i,
  -- 2080 of 4096 cells) is materialized — the explode is this entry's
  -- dominant cost and the lower triangle is the same number (r11 review);
  -- trc2 below doubles the off-diagonal squares back
  SELECT v.label AS label, a.i AS da, b.i AS db,
         {P.exact_avg(f'({xa}) * ({xb})', d, 9)} AS mab
  FROM embeddings v CROSS JOIN idx a CROSS JOIN idx b
  WHERE a.i <= b.i
  GROUP BY v.label, a.i, b.i
),
m1 AS (
  SELECT v.label AS label, a.i AS i, {P.exact_avg(x1, d, 9)} AS mi
  FROM embeddings v CROSS JOIN idx a
  GROUP BY v.label, a.i
),
cov AS (
  SELECT m2.label AS label, m2.da AS da, m2.db AS db,
         m2.mab - ma.mi * mb.mi AS cv
  FROM m2
  JOIN m1 ma ON m2.label = ma.label AND m2.da = ma.i
  JOIN m1 mb ON m2.label = mb.label AND m2.db = mb.i
),
tr AS (
  SELECT label,
         {P.exact_sum('CASE WHEN da = db THEN cv END', d, 12)} AS trc,
         {P.exact_sum(
             'cv * cv * (CASE WHEN da = db THEN CAST(1 AS DOUBLE) '
             'ELSE CAST(2 AS DOUBLE) END)', d, 12)}
             AS trc2
  FROM cov GROUP BY label
),
nv AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label)
SELECT CAST(tr.label AS INT) AS label,
       CAST(nv.n AS BIGINT) AS n_vectors,
       CAST(round(tr.trc, 6) + 0.0 AS DOUBLE) AS trace_cov,
       CAST(round(tr.trc * tr.trc / nullif(tr.trc2, 0), 6) AS DOUBLE)
           AS effective_rank
FROM tr JOIN nv ON tr.label = nv.label
ORDER BY label
"""


TEMPLATES["embedding_effective_rank"] = embedding_effective_rank


def _vocab_top_sql(d: str) -> str:
    """(decile, tok) top-100 tokens per ingest-range decile — the corpus
    explode + per-decile rank, computed once on Spark (COMPUTE_ONCE;
    everything downstream is <= 1000 rows)."""
    toks = P.tokens("text", d)
    if d == "spark":
        tok = f"SELECT doc_id, tok FROM documents LATERAL VIEW explode({toks}) t AS tok"
    else:
        tok = f"SELECT doc_id, unnest({toks}) AS tok FROM documents"
    dec = f"least(1 + {_idiv('(tk.doc_id - bounds.lo) * 10', '(bounds.hi - bounds.lo + 1)', d)}, 10)"
    return f"""
WITH tk AS ({tok}),
bounds AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
c AS (
  SELECT {dec} AS decile, tk.tok AS tok, COUNT(*) AS c
  FROM tk CROSS JOIN bounds
  GROUP BY {dec}, tk.tok
),
ranked AS (
  SELECT decile, tok,
         ROW_NUMBER() OVER (PARTITION BY decile ORDER BY c DESC, tok ASC) AS rnk
  FROM c
)
SELECT decile, tok FROM ranked WHERE rnk <= 100
"""


def _vocab_turnover_body(d: str, top_rel: str = "top") -> str:
    return f"""sz AS (SELECT decile, COUNT(*) AS n FROM {top_rel} GROUP BY decile),
inter AS (
  SELECT a.decile AS da, COUNT(*) AS m
  FROM {top_rel} a JOIN {top_rel} b ON b.tok = a.tok AND b.decile = a.decile + 1
  GROUP BY a.decile
)
SELECT CAST(sa.decile AS INT) AS decile_from,
       CAST(sb.decile AS INT) AS decile_to,
       CAST(sa.n AS BIGINT) AS topk_from,
       CAST(sb.n AS BIGINT) AS topk_to,
       CAST(COALESCE(i.m, 0) AS BIGINT) AS n_shared,
       CAST(round(CAST(COALESCE(i.m, 0) AS DOUBLE)
                  / (sa.n + sb.n - COALESCE(i.m, 0)), 6) AS DOUBLE) AS jaccard
FROM sz sa
JOIN sz sb ON sb.decile = sa.decile + 1
LEFT JOIN inter i ON i.da = sa.decile
ORDER BY decile_from
"""


def vocab_turnover_by_decile(d: str) -> str:
    """TOP-VOCABULARY TURNOVER across the ingest stream: the corpus in
    doc_id order is cut into ten range deciles (min/max scalars, never a
    global NTILE sort — the dedup_ingest_order_curve pattern); per decile
    the top-100 tokens by count are ranked, and consecutive deciles are
    scored by Jaccard overlap of their top-100 sets. A crawl whose
    top-vocab Jaccard sags mid-stream changed domain mix mid-crawl —
    the drift diagnostic that catches what per-source stats can't (the
    SOURCE label may not encode crawl time). ngram_novelty_decay counts
    NEW n-grams; this tracks the HEAD of the distribution, which is what
    tokenizer coverage and mixture weights actually see. Shape: one
    explode -> (decile, tok) counts -> per-decile rank window (top-100:
    partial per-partition top-k before the 10-partition shuffle at
    scale) -> a <=100-row-per-decile self-join on consecutive deciles;
    Spark computes the top relation once (COMPUTE_ONCE) so the corpus
    explode runs once (sz + both inter sides read it); all integers
    until the final division."""
    body = _vocab_top_sql(d).lstrip()
    assert body.startswith("WITH ")
    return (f"WITH top AS (WITH {body[len('WITH '):].rstrip()}),\n"
            + _vocab_turnover_body(d))


TEMPLATES["vocab_turnover_by_decile"] = vocab_turnover_by_decile
COMPUTE_ONCE["vocab_turnover_by_decile"] = ("top",)


def _stylometry_sc_sql(d: str) -> str:
    """(source, tok, c) lowercased unigram counts — the one corpus explode
    (the same relation shape source_crossentropy_matrix materializes)."""
    toks = P.tokens("lower(text)", d)
    if d == "spark":
        tok = f"SELECT source, tok FROM documents LATERAL VIEW explode({toks}) t AS tok"
    else:
        tok = f"SELECT source, unnest({toks}) AS tok FROM documents"
    return f"SELECT source, tok, COUNT(*) AS c FROM ({tok}) tk GROUP BY source, tok"


def _stylometry_body(d: str, sc_rel: str = "sc") -> str:
    return f"""w AS (
  SELECT tok AS w FROM (SELECT tok, SUM(c) AS c FROM {sc_rel} GROUP BY tok) gc
  ORDER BY c DESC, tok ASC LIMIT 50
),
tot AS (SELECT source, SUM(c) AS n FROM {sc_rel} GROUP BY source),
sw AS (
  SELECT s.source AS source, s.tok AS w, s.c AS c
  FROM {sc_rel} s JOIN w ON s.tok = w.w
),
grid AS (
  SELECT t.source AS source, w.w AS w,
         CAST(COALESCE(sw.c, 0) AS DOUBLE) / t.n AS r
  FROM tot t CROSS JOIN w
  LEFT JOIN sw ON sw.source = t.source AND sw.w = w.w
),
mom AS (
  SELECT w, {P.exact_avg('r', d, 12)} AS mu,
         sqrt(greatest({P.exact_avg('r * r', d, 12)}
                       - {P.exact_avg('r', d, 12)} * {P.exact_avg('r', d, 12)},
                       CAST(0 AS DOUBLE))) AS sd,
         MIN(r) AS rlo, MAX(r) AS rhi
  FROM grid GROUP BY w
),
z AS (
  -- positive-variance filter is the exact MIN<MAX test, not sd > 0: with
  -- grid-rounded moments a constant-rate word's computed sd is rounding
  -- noise (tiny positive half the time), and dividing by it would inject
  -- junk z into every Delta (the r11 heaps-pin fragility class)
  SELECT g.source AS source, g.w AS w, (g.r - m.mu) / m.sd AS z
  FROM grid g JOIN mom m ON g.w = m.w
  WHERE m.rhi > m.rlo AND m.sd > 0
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(round({P.exact_avg('abs(a.z - b.z)', d, 12)}, 6) AS DOUBLE) AS delta
FROM z a
JOIN z b ON a.w = b.w AND a.source < b.source
GROUP BY a.source, b.source
ORDER BY source_a, source_b
"""


def source_stylometry_delta(d: str) -> str:
    """BURROWS' DELTA between sources over the corpus's top-50 function
    words: each source's per-word rate (count / total source tokens) is
    z-scored across sources per word (population mean/sd over the source
    dimension), and Delta(a, b) = mean_w |z_a(w) - z_b(w)| over words
    with positive variance — the classical stylometric distance (Burrows
    2002 uses the most-frequent-word profile, which is corpus-adaptive),
    here repurposed as a "same upstream generator?" detector: two crawl
    sources with near-zero Delta are stylistic mirrors even when their
    CONTENT n-grams differ — the complement of
    cross_source_duplicate_matrix, which needs shared shingles. Shape:
    ONE corpus explode pre-aggregated to (source, tok, c) — Spark
    computes it once (COMPUTE_ONCE), crossentropy-style — then everything is
    vocab/dim-sized: top-50 via ORDER BY/LIMIT (TakeOrderedAndProject on
    Spark — partial per-partition top-k, never a global rank window),
    zero-densified source x word grid, per-word moments across sources,
    pairwise dim-sized join; every float aggregate is dim-bounded
    (<= 50 words x |sources|) and goes through P.exact_avg scale 12."""
    return f"""
WITH sc AS ({_stylometry_sc_sql(d)}),
{_stylometry_body(d)}
"""


TEMPLATES["source_stylometry_delta"] = source_stylometry_delta
COMPUTE_ONCE["source_stylometry_delta"] = ("sc",)


def _markov_counts_sql(d: str) -> str:
    """(half, a, b) transition counts split at the global time midpoint —
    the event-stream scan + LEAD window, materialized once by the Spark
    override (downstream is |event types|^2 sized)."""
    lead = "LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)"
    return f"""
WITH e AS (SELECT user_id, event_id, event_type, {_ts_us(d)} AS ts_us FROM events),
bounds AS (SELECT MIN(ts_us) AS lo, MAX(ts_us) AS hi FROM e),
tr AS (
  SELECT e.event_type AS a, {lead} AS b,
         CASE WHEN e.ts_us * 2 <= bounds.lo + bounds.hi THEN 1 ELSE 2 END AS half
  FROM e CROSS JOIN bounds
)
SELECT half, a, b, COUNT(*) AS c FROM tr WHERE b IS NOT NULL GROUP BY half, a, b
"""


def _markov_drift_body(d: str, c_rel: str = "c") -> str:
    return f"""c1 AS (SELECT a, b, c FROM {c_rel} WHERE half = 1),
c2 AS (SELECT a, b, c FROM {c_rel} WHERE half = 2),
j AS (
  SELECT COALESCE(c1.a, c2.a) AS a, COALESCE(c1.b, c2.b) AS b,
         COALESCE(c1.c, 0) AS x1, COALESCE(c2.c, 0) AS x2
  FROM c1 FULL OUTER JOIN c2 ON c1.a = c2.a AND c1.b = c2.b
),
t AS (SELECT a, SUM(x1) AS t1, SUM(x2) AS t2 FROM j GROUP BY a)
SELECT j.a AS event_type,
       CAST(t.t1 AS BIGINT) AS n_trans_h1,
       CAST(t.t2 AS BIGINT) AS n_trans_h2,
       CAST(round({P.exact_sum(
           'abs(CAST(j.x1 AS DOUBLE) / t.t1 - CAST(j.x2 AS DOUBLE) / t.t2)',
           d, 12)}, 6) AS DOUBLE) AS l1_drift
FROM j JOIN t ON j.a = t.a
WHERE t.t1 > 0 AND t.t2 > 0
GROUP BY j.a, t.t1, t.t2
ORDER BY event_type
"""


def markov_drift_halves(d: str) -> str:
    """MARKOV-CHAIN STATIONARITY CHECK on the event stream: per-user
    event-type transitions are counted separately for the first and
    second half of the observation window (global time midpoint from
    min/max scalars — broadcast, never a sort), each half's transition
    matrix is row-normalized, and the per-row L1 drift
    sum_b |P1(a->b) - P2(a->b)| is reported per source state. This is
    the audit event_markov_transitions needs before anyone treats its
    matrix as THE user model — high drift on a state means the chain is
    nonstationary there and downstream session simulators / anomaly
    scores trained on the pooled matrix are wrong on half the data.
    A transition belongs to the half of its FROM event; states absent
    from either half are excluded (their conditional is undefined).
    Shape: one scan -> LEAD window per user -> (half, a, b) counts
    (computed once on Spark, COMPUTE_ONCE — both half branches read
    it) -> zero-densified full outer join of the two dim x dim matrices;
    the L1 sum is <= |event types| bounded terms via P.exact_sum
    scale 12."""
    body = _markov_counts_sql(d).lstrip()
    assert body.startswith("WITH ")
    return (f"WITH c AS (WITH {body[len('WITH '):].rstrip()}),\n"
            + _markov_drift_body(d))


TEMPLATES["markov_drift_halves"] = markov_drift_halves
COMPUTE_ONCE["markov_drift_halves"] = ("c",)


def _dup_rate_body(d: str, rel: str = "sigs") -> str:
    """Length-bucket rollup of the banded-LSH candidate pairs, reading the
    signature relation ``rel`` (CTE on the oracle; materialized temp view
    on Spark — the dedup-family plan-hygiene pattern)."""
    qb = f"least(1 + {_idiv('(n_chars - bounds.lo) * 4', '(bounds.hi - bounds.lo + 1)', d)}, 4)"
    return f"""
WITH bounds AS (SELECT MIN(n_chars) AS lo, MAX(n_chars) AS hi FROM documents),
dl AS (SELECT doc_id, {qb} AS bucket FROM documents CROSS JOIN bounds),
banded AS ({_lsh_banded_cte(d, rel)}),
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
),
pb AS (
  SELECT LEAST(la.bucket, lb.bucket) AS bucket, COUNT(*) AS n_pairs
  FROM pairs p
  JOIN dl la ON la.doc_id = p.doc_a
  JOIN dl lb ON lb.doc_id = p.doc_b
  GROUP BY LEAST(la.bucket, lb.bucket)
),
db AS (SELECT bucket, COUNT(*) AS n_docs FROM dl GROUP BY bucket)
SELECT CAST(db.bucket AS INT) AS length_bucket,
       CAST(db.n_docs AS BIGINT) AS n_docs,
       CAST(COALESCE(pb.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(round(CAST(COALESCE(pb.n_pairs, 0) AS DOUBLE) / db.n_docs, 6)
            AS DOUBLE) AS pairs_per_doc
FROM db LEFT JOIN pb ON db.bucket = pb.bucket
ORDER BY length_bucket
"""


def dup_rate_by_length(d: str) -> str:
    """NEAR-DUP RATE BY LENGTH BUCKET: the banded-LSH candidate pairs
    (the SAME signature + banding relations every dedup entry shares)
    rolled up by the SHORTER side's length quartile (n_chars range
    quartiles from min/max scalars — broadcast, no sort), with the
    per-bucket doc population as the denominator. Short documents share
    shingles far more easily (fewer shingles each), so a one-threshold
    dedup config over-merges the short tail and under-merges long docs —
    this table is the evidence for a length-stratified threshold, the
    knob dedup_threshold_sensitivity sweeps globally. pairs_per_doc > ~1
    on a bucket means the candidate graph is denser than the corpus
    there — the over-merge warning. Shape: signatures once, banding
    join (never all-pairs), a slim (doc_id, n_chars) join to label pair
    sides, integer rollups; ratios are single divisions."""
    body = _dup_rate_body(d).lstrip()
    assert body.startswith("WITH ")
    return f"WITH sigs AS ({_minhash_sigs_sql(d)}),\n{body[len('WITH '):]}"


TEMPLATES["dup_rate_by_length"] = dup_rate_by_length
COMPUTE_ONCE["dup_rate_by_length"] = ("sigs",)


def order_to_ship_latency(d: str) -> str:
    """ORDER-TO-SHIP LATENCY percentiles per customer nation: exact
    interpolated p50/p90/p99 and max of (l_shipdate - o_orderdate) in
    whole days — the fulfillment-SLA profile read per geography (the
    operational twin of q3/q5's revenue views; latency tails, not sums,
    are what capacity planning consumes). Day deltas are exact integers
    (both engines floor-divide the epoch-微us difference by 86400e6 —
    calendar datediff() functions disagree on DST-less timestamp
    semantics, integer math cannot), so the only float op is the shared
    linear interpolation (Spark `percentile` == DuckDB `quantile_cont`,
    the doc_len_percentiles pattern; at 100 TB swap to approx_percentile
    with this exact form as its oracle). One lineitem-orders join keyed
    on orderkey + two broadcast dim joins, then a nation-dim agg."""
    # parquet date-ish columns surface as TIMESTAMP_NTZ on Spark;
    # unix_micros needs TIMESTAMP, and under the UTC session tz the cast
    # is the identity DuckDB's epoch_us already applies to naive stamps
    day = lambda col: _epoch_day(col, d)  # noqa: E731
    if d == "spark":
        pcts = "percentile(lat_days, array(0.5D, 0.9D, 0.99D))"
    else:
        pcts = "quantile_cont(lat_days, [0.5, 0.9, 0.99])"
    e = lambda i: _elem("p", i, d)  # noqa: E731
    return f"""
WITH lt AS (
  SELECT n.n_name AS nation,
         {day('l.l_shipdate')} - {day('o.o_orderdate')} AS lat_days
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT nation,
       CAST(n AS BIGINT) AS n_lineitems,
       CAST(round({e(1)}, 6) + 0.0 AS DOUBLE) AS p50_days,
       CAST(round({e(2)}, 6) + 0.0 AS DOUBLE) AS p90_days,
       CAST(round({e(3)}, 6) + 0.0 AS DOUBLE) AS p99_days,
       CAST(mx AS BIGINT) AS max_days
FROM (SELECT nation, COUNT(*) AS n, {pcts} AS p, MAX(lat_days) AS mx
      FROM lt GROUP BY nation) t
ORDER BY nation
"""


TEMPLATES["order_to_ship_latency"] = order_to_ship_latency


# ---------------------------------------------------------------------------
# Round-12 data-quality / retrieval-eval / mixture-audit family. Conventions
# as everywhere: dual dialect, round(x, 6) floats (+ 0.0 on sign-crossing
# outputs), exact integer accumulation (P.exact_sum / P.exact_avg) for every
# merge-order-sensitive float aggregate, exact MIN=MAX degenerate guards,
# libm-free literal constants (ln/log2/Benford probabilities inlined as
# literals so no engine's libm is in the value path), deterministic ORDER BY
# with unique tie-breaks. Beyond-reference training-data suite; no reference
# counterpart.


def order_total_reconciliation(d: str) -> str:
    """Cross-table data-quality reconciliation (the classic warehouse FK
    audit): o_totalprice vs the recomputed SUM(extendedprice * (1-disc) *
    (1+tax)) over the order's lineitems, bucketed by mismatch size. The
    whole comparison runs in DECIMAL — exact on both engines, no float in
    the bucket decision; only the reported relative-gap stats cast to
    DOUBLE (identically, from identical decimals). Plan: lineitem
    pre-aggregates map-side on l_orderkey, one key-hash join to orders
    (bucket both by orderkey at scale and the shuffle disappears), output
    is <=4 rows. Orders with no lineitems are out of scope of the
    invariant (inner join). On the synthetic testdata the invariant
    deliberately does NOT hold — the audit's job is to measure that."""
    term = f"{_dec('l.l_extendedprice', 12, 2)} * (1 - {_dec('l.l_discount', 4, 2)}) * (1 + {_dec('l.l_tax', 4, 2)})"
    return f"""
WITH lt AS (
  SELECT l.l_orderkey AS okey, SUM({term}) AS recomputed
  FROM lineitem l GROUP BY l.l_orderkey
),
cmp AS (
  SELECT {_dec('o.o_totalprice', 12, 2)} - lt.recomputed AS diff,
         CAST({_dec('o.o_totalprice', 12, 2)} - lt.recomputed AS DOUBLE)
           / CAST({_dec('o.o_totalprice', 12, 2)} AS DOUBLE) AS rel
  FROM orders o JOIN lt ON o.o_orderkey = lt.okey
)
SELECT CASE WHEN diff = 0 THEN 'exact'
            WHEN abs(diff) <= 0.01 THEN 'within_cent'
            WHEN abs(rel) <= 0.01 THEN 'minor'
            ELSE 'major' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(round({P.exact_avg('rel', d, 9)}, 6) + 0.0 AS DOUBLE) AS mean_rel_gap,
       CAST(round(MIN(rel), 6) + 0.0 AS DOUBLE) AS min_rel_gap,
       CAST(round(MAX(rel), 6) + 0.0 AS DOUBLE) AS max_rel_gap
FROM cmp
GROUP BY CASE WHEN diff = 0 THEN 'exact'
              WHEN abs(diff) <= 0.01 THEN 'within_cent'
              WHEN abs(rel) <= 0.01 THEN 'minor'
              ELSE 'major' END
ORDER BY bucket
"""


def filter_venn_attribution(d: str) -> str:
    """Filter-combination attribution (the ablation bookkeeping behind
    quality_filter's first-match verdicts): every document is scored
    against ALL five C4/Gopher-style rules INDEPENDENTLY and counted into
    its 2^5 rule-combination bitmask bucket — which rule combinations
    co-fire decides whether a rule is redundant (its bit only ever appears
    alongside another) or load-bearing, the question a first-failing-rule
    histogram cannot answer. One corpus scan, one 32-bucket hash agg;
    per-rule thresholds identical to quality_filter's so the two entries
    describe the same gate."""
    m = TA.quality_metrics_sql("text", d)
    toks = P.tokens("text", d)
    if d == "spark":
        n, nd = f"size({toks})", f"size(array_distinct({toks}))"
    else:
        n, nd = f"len({toks})", f"len(list_distinct({toks}))"
    distinct_ratio = f"(CAST({nd} AS DOUBLE) / {n})"
    score = TA.quality_score_sql("text", d)
    return f"""
WITH flags AS (
  SELECT doc_id,
         CASE WHEN {m['n_chars']} < 80 THEN 1 ELSE 0 END AS f_short,
         CASE WHEN {m['n_tokens']} < 12 THEN 1 ELSE 0 END AS f_tokens,
         CASE WHEN {m['digit_ratio']} > 0.2 THEN 1 ELSE 0 END AS f_digit,
         CASE WHEN {distinct_ratio} < 0.3 THEN 1 ELSE 0 END AS f_rep,
         CASE WHEN {score} < 0.35 THEN 1 ELSE 0 END AS f_quality
  FROM documents
)
SELECT CAST(16 * f_short + 8 * f_tokens + 4 * f_digit + 2 * f_rep + f_quality AS INT) AS bitmask,
       CASE WHEN 16 * f_short + 8 * f_tokens + 4 * f_digit + 2 * f_rep + f_quality = 0
            THEN 'keep'
            ELSE concat_ws('+',
                 CASE WHEN f_short = 1 THEN 'short' END,
                 CASE WHEN f_tokens = 1 THEN 'few_tokens' END,
                 CASE WHEN f_digit = 1 THEN 'digit_heavy' END,
                 CASE WHEN f_rep = 1 THEN 'repetitive' END,
                 CASE WHEN f_quality = 1 THEN 'low_score' END) END AS rules,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM flags
GROUP BY f_short, f_tokens, f_digit, f_rep, f_quality
ORDER BY bitmask
"""


def adjacent_dup_streaks(d: str) -> str:
    """Ingest-order template-streak detector: 3-gram-shingle Jaccard
    between each document and its ingest-order PREDECESSOR within the same
    source, plus the longest consecutive run of high-similarity (>= 0.2)
    adjacencies — a crawler stuck in a templated site produces long
    streaks that corpus-level dup rates smear out. Windows are
    key-partitioned per source (the user_activity_sessions precedent: a
    single source's stream flows through one partition — sources are the
    parallelism unit); the shingle arrays are per-row bounded and never
    shuffle as text. Gaps-and-islands via the ROW_NUMBER difference — no
    global sort anywhere."""
    sh = P.shingle_hashes("text", 3, d)
    if d == "spark":
        cur = f"array_distinct({sh})"
        inter = "CAST(size(array_intersect(cur, prev)) AS DOUBLE)"
        uni = "nullif(size(cur) + size(prev) - size(array_intersect(cur, prev)), 0)"
    else:
        cur = f"list_distinct({sh})"
        inter = "CAST(len(list_intersect(cur, prev)) AS DOUBLE)"
        uni = "nullif(len(cur) + len(prev) - len(list_intersect(cur, prev)), 0)"
    return f"""
WITH s AS (SELECT source, doc_id, {cur} AS cur FROM documents),
w AS (
  SELECT source, doc_id, cur,
         LAG(cur) OVER (PARTITION BY source ORDER BY doc_id ASC) AS prev
  FROM s
),
pairs AS (
  SELECT source, doc_id, {inter} / {uni} AS j
  FROM w WHERE prev IS NOT NULL
),
r AS (
  SELECT source, doc_id, j,
         CASE WHEN j >= 0.2 THEN 1 ELSE 0 END AS hi,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id ASC) AS rn
  FROM pairs
),
streaks AS (
  SELECT source, grp, CAST(COUNT(*) AS BIGINT) AS len
  FROM (
    SELECT source, rn - ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id ASC) AS grp
    FROM r WHERE hi = 1
  ) g GROUP BY source, grp
),
mx AS (SELECT source, MAX(len) AS max_streak FROM streaks GROUP BY source),
agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(round({P.exact_avg('j', d, 9)}, 6) AS DOUBLE) AS mean_jaccard,
         CAST(SUM(hi) AS BIGINT) AS n_high
  FROM r GROUP BY source
)
SELECT agg.source AS source, agg.n_pairs, agg.mean_jaccard, agg.n_high,
       CAST(COALESCE(mx.max_streak, 0) AS BIGINT) AS max_streak
FROM agg LEFT JOIN mx ON agg.source = mx.source
ORDER BY agg.source
"""


VOCAB_TOP_N = 100


def oov_rate_by_source(d: str) -> str:
    """Per-source out-of-vocabulary rate under a GLOBAL top-N (100) token
    vocabulary — the tokenizer-design complement to vocab_coverage_topk's
    global curve: which sources would suffer most under a frequency-
    truncated vocab. The (source, token) counts pre-aggregate map-side;
    the vocabulary is top-N-sized and broadcasts at any corpus scale; all
    rates are single divisions of exact integers."""
    toks = P.tokens("text", d)
    if d == "spark":
        tok = f"SELECT source, tok FROM documents LATERAL VIEW explode({toks}) t AS tok"
    else:
        tok = f"SELECT source, unnest({toks}) AS tok FROM documents"
    return f"""
WITH stok AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM ({tok}) x GROUP BY source, tok),
gf AS (SELECT tok, SUM(c) AS n FROM stok GROUP BY tok),
vocab AS (SELECT tok FROM gf ORDER BY n DESC, tok ASC LIMIT {VOCAB_TOP_N})
SELECT s.source AS source,
       CAST(SUM(s.c) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN s.c ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov_types,
       CAST(round(CAST(SUM(CASE WHEN v.tok IS NULL THEN s.c ELSE 0 END) AS DOUBLE) / SUM(s.c), 6) AS DOUBLE) AS oov_rate
FROM stok s LEFT JOIN vocab v ON s.tok = v.tok
GROUP BY s.source
ORDER BY s.source
"""


def benford_first_digit(d: str) -> str:
    """Benford's-law first-significant-digit audit per event type — the
    fabricated-or-truncated-numbers detector for ingested metrics. The
    digit is extracted ARITHMETICALLY: floor(value·10^6 + 0.5) as BIGINT,
    then the integer's first character — no log10 in the digit path (libm
    floor(log10(x)) can disagree across engines within an ulp of a power
    of ten; integer-to-string cannot). Benford probabilities are inlined
    literals. chi2 is the 9-term windowed sum per type; every per-digit
    term is (obs-exp)^2/exp over identical doubles."""
    first = f"CAST(substr({_str('n6', d)}, 1, 1) AS INT)"
    return f"""
WITH ints AS (
  SELECT event_type, CAST(floor(value * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT) AS n6
  FROM events WHERE value > 0
),
digs AS (SELECT event_type, {first} AS dgt FROM ints WHERE n6 > 0),
counts AS (SELECT event_type, dgt, CAST(COUNT(*) AS BIGINT) AS obs FROM digs GROUP BY event_type, dgt),
tot AS (SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n FROM digs GROUP BY event_type),
benford(dgt, p) AS (VALUES
  (1, 0.3010299956639812), (2, 0.17609125905568124), (3, 0.12493873660829992),
  (4, 0.09691001300805642), (5, 0.07918124604762482), (6, 0.06694678963061322),
  (7, 0.05799194697768673), (8, 0.05115252244738129), (9, 0.04575749056067514)
),
grid AS (
  SELECT t.event_type AS event_type, b.dgt AS digit, t.n * b.p AS expected,
         CAST(COALESCE(c.obs, 0) AS BIGINT) AS observed
  FROM tot t CROSS JOIN benford b
  LEFT JOIN counts c ON c.event_type = t.event_type AND c.dgt = b.dgt
)
SELECT event_type, CAST(digit AS INT) AS digit, observed,
       CAST(round(expected, 6) AS DOUBLE) AS expected,
       CAST(round((observed - expected) * (observed - expected) / expected, 6) AS DOUBLE) AS chi2_term,
       CAST(round(SUM((observed - expected) * (observed - expected) / expected)
                  OVER (PARTITION BY event_type), 6) AS DOUBLE) AS chi2_total
FROM grid
ORDER BY event_type, digit
"""


def simpson_sign_flip(d: str) -> str:
    """Simpson's-paradox screen: Pearson correlation of (hour-of-day,
    value) POOLED across all events vs within each event type, flagging
    types whose within-group correlation sign contradicts the pooled sign
    — the aggregation-bias trap every metrics rollup should test for. All
    five moments accumulate as exact integers (P.exact_sum, scale 4 —
    |x·y| <= ~1.2e4 at the data's value bound, safe past 10^14 rows), so
    both engines derive bit-identical correlations; zero-variance guards
    are the exact MIN=MAX tests (the r11 rule). The sign comparison uses
    the UNROUNDED identical doubles; output rounds + 0.0."""
    hour = _idiv(f"({_ts_us(d)} % 86400000000)", "3600000000", d)
    mom = f"""CAST(COUNT(*) AS DOUBLE) AS n,
         {P.exact_sum('x', d, 6)} AS sx, {P.exact_sum('y', d, 4)} AS sy,
         {P.exact_sum('x * y', d, 4)} AS sxy,
         {P.exact_sum('x * x', d, 6)} AS sxx, {P.exact_sum('y * y', d, 4)} AS syy,
         MIN(x) AS xlo, MAX(x) AS xhi, MIN(y) AS ylo, MAX(y) AS yhi"""
    corr = ("CASE WHEN xlo = xhi OR ylo = yhi THEN NULL ELSE "
            "(n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END")
    return f"""
WITH pts AS (
  SELECT event_type, CAST({hour} AS DOUBLE) AS x, value AS y FROM events
),
g AS (SELECT event_type AS grp, {mom} FROM pts GROUP BY event_type),
a AS (SELECT 'ALL' AS grp, {mom} FROM pts),
gc AS (SELECT grp, n, {corr} AS corr FROM g),
ac AS (SELECT n AS n_all, {corr} AS corr_pooled FROM a)
SELECT gc.grp AS event_type,
       CAST(gc.n AS BIGINT) AS n_events,
       CAST(round(gc.corr, 6) + 0.0 AS DOUBLE) AS corr_group,
       CAST(round(ac.corr_pooled, 6) + 0.0 AS DOUBLE) AS corr_pooled,
       CAST(CASE WHEN gc.corr IS NULL OR ac.corr_pooled IS NULL THEN NULL
                 WHEN gc.corr * ac.corr_pooled < 0 THEN 1 ELSE 0 END AS INT) AS sign_flip
FROM gc CROSS JOIN ac
ORDER BY gc.grp
"""


def interarrival_exp_fit(d: str) -> str:
    """Exponential-arrival fit per event type: MLE rate from the exact
    mean inter-arrival time, with the OBSERVED p50/p90 inter-arrivals
    compared against the fitted model's quantiles (mean·ln2, mean·ln10) —
    the burstiness-vs-Poisson diagnostic for event streams (a bursty
    stream's observed p50 sits far below the model's). ln constants are
    literals, not libm calls. Inter-arrivals come from one key-partitioned
    LAG per type; the quantile agg buffers one type's deltas per group —
    at larger scale swap percentile for the approx sketch (the
    doc_len_percentiles_approx recipe). Degenerate guard: all-equal
    deltas (MIN=MAX) or zero mean -> NULL gaps."""
    ts = _ts_us(d)
    if d == "spark":
        pct = "percentile(dt, array(0.5D, 0.9D))"
        e = lambda i: f"element_at(p, {i})"  # noqa: E731
    else:
        pct = "quantile_cont(dt, [0.5, 0.9])"
        e = lambda i: f"(p)[{i}]"  # noqa: E731
    return f"""
WITH seq AS (
  SELECT event_type,
         ({ts} - LAG({ts}) OVER (PARTITION BY event_type ORDER BY {ts} ASC, event_id ASC)) / 1000000.0 AS dt
  FROM events
),
d2 AS (SELECT event_type, dt FROM seq WHERE dt IS NOT NULL),
agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         {P.exact_avg('dt', d, 3)} AS mean_dt,
         MIN(dt) AS dlo, MAX(dt) AS dhi,
         {pct} AS p
  FROM d2 GROUP BY event_type
)
SELECT event_type, n,
       CAST(round(mean_dt, 6) AS DOUBLE) AS mean_dt_s,
       CAST(round({e(1)}, 6) AS DOUBLE) AS p50_obs_s,
       CAST(round({e(2)}, 6) AS DOUBLE) AS p90_obs_s,
       CAST(round(CASE WHEN dlo = dhi OR mean_dt = 0 THEN NULL
                       ELSE ({e(1)} - mean_dt * 0.6931471805599453)
                            / (mean_dt * 0.6931471805599453) END, 6) + 0.0
            AS DOUBLE) AS p50_rel_gap,
       CAST(round(CASE WHEN dlo = dhi OR mean_dt = 0 THEN NULL
                       ELSE ({e(2)} - mean_dt * 2.302585092994046)
                            / (mean_dt * 2.302585092994046) END, 6) + 0.0
            AS DOUBLE) AS p90_rel_gap
FROM agg
ORDER BY event_type
"""


def event_debounce_rate(d: str) -> str:
    """Debounce audit: share of events arriving within 5 s of the SAME
    user's previous event of the SAME type — the double-fire rate a
    training-log deduplication pass would remove (complement of exact
    dedup, which needs identical payloads; debounce is time-keyed). One
    key-partitioned LAG per (user, type), one grouped agg; rates are
    divisions of exact integers."""
    ts = _ts_us(d)
    return f"""
WITH seq AS (
  SELECT event_type,
         {ts} - LAG({ts}) OVER (PARTITION BY user_id, event_type ORDER BY {ts} ASC, event_id ASC) AS dt_us
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN dt_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN dt_us <= 5000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_debounced,
       CAST(round(CAST(SUM(CASE WHEN dt_us <= 5000000 THEN 1 ELSE 0 END) AS DOUBLE)
                  / nullif(SUM(CASE WHEN dt_us IS NOT NULL THEN 1 ELSE 0 END), 0), 6)
            AS DOUBLE) AS debounce_rate
FROM seq
GROUP BY event_type
ORDER BY event_type
"""


NDCG_K = 5
NDCG_QUERY_STRIDE = 37
NDCG_QUERY_CAP = 3700  # stride x cap -> <= 100 queries at ANY corpus size


def ndcg_graded_retrieval(d: str) -> str:
    """Graded-relevance NDCG@5 for the deterministic mock-embedding
    retriever — the ranking-quality audit retrieval_eval_metrics (binary
    planted pairs) cannot express: gain 2 for same-source candidates,
    1 for same-language, 0 otherwise. The query set is FIXED and bounded
    (doc_id % 37 = 0 AND doc_id < 3700 -> <= 100 queries at any corpus
    size), so the query side broadcasts and candidate scoring is one
    corpus scan; the per-query window ranks ~corpus rows partitioned by
    query. DCG accumulates via exact_sum over literal 1/log2(pos+1)
    denominators (libm-free); IDCG is closed-form from the exact gain
    counts — the ideal ranking needs no sort. IDCG = 0 (no relevant
    candidates) -> NULL ndcg."""
    emb = P.mock_embed("text", EMBED_DIM, d)
    dist = P.cosine_distance_prenorm("c.e", "q.qe", "c.nrm", "q.nrm", d)
    l2 = {1: "1.0", 2: "1.584962500721156", 3: "2.0",
          4: "2.321928094887362", 5: "2.584962500721156"}
    dcg_term = " ".join(
        f"WHEN {p} THEN CAST(gain AS DOUBLE)"
        + ("" if p == 1 else f" / {l2[p]}")
        for p in range(1, NDCG_K + 1))
    idcg_expr = " + ".join(
        f"CAST(CASE WHEN {p} <= n2 THEN 2 WHEN {p} <= n2 + n1 THEN 1 ELSE 0 END AS DOUBLE)"
        + ("" if p == 1 else f" / {l2[p]}")
        for p in range(1, NDCG_K + 1))
    return f"""
WITH docs AS (
  SELECT doc_id, source, lang, e, {P.norm2('e', d)} AS nrm
  FROM (SELECT doc_id, source, lang, {emb} AS e FROM documents) _d
),
q AS (
  SELECT doc_id AS qid, source AS qsrc, lang AS qlang, e AS qe, nrm
  FROM docs WHERE doc_id % {NDCG_QUERY_STRIDE} = 0 AND doc_id < {NDCG_QUERY_CAP}
),
scored AS (
  SELECT q.qid AS qid, c.doc_id AS doc_id,
         round({dist}, 6) AS dist,
         CASE WHEN c.source = q.qsrc THEN 2
              WHEN c.lang = q.qlang THEN 1 ELSE 0 END AS gain
  FROM q JOIN docs c ON c.doc_id <> q.qid
),
ranked AS (
  SELECT qid, gain,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist ASC, doc_id ASC) AS rnk
  FROM scored
),
dcg AS (
  SELECT qid, {P.exact_sum(f'CASE rnk {dcg_term} ELSE CAST(0 AS DOUBLE) END', d, 12)} AS dcg
  FROM ranked WHERE rnk <= {NDCG_K} GROUP BY qid
),
counts AS (
  SELECT qid,
         SUM(CASE WHEN gain = 2 THEN 1 ELSE 0 END) AS n2,
         SUM(CASE WHEN gain = 1 THEN 1 ELSE 0 END) AS n1
  FROM scored GROUP BY qid
)
SELECT c.qid AS qid,
       CAST(c.n2 AS BIGINT) AS n_same_source,
       CAST(c.n1 AS BIGINT) AS n_same_lang,
       CAST(round(dcg.dcg, 6) AS DOUBLE) AS dcg,
       CAST(round({idcg_expr}, 6) AS DOUBLE) AS idcg,
       CAST(round(CASE WHEN c.n2 + c.n1 = 0 THEN NULL
                       ELSE dcg.dcg / ({idcg_expr}) END, 6) AS DOUBLE) AS ndcg
FROM counts c JOIN dcg ON c.qid = dcg.qid
ORDER BY c.qid
"""


def rare_token_share(d: str) -> str:
    """Gibberish / OCR-noise detector: each document's share of token
    occurrences whose GLOBAL corpus frequency is <= 2 — random strings,
    hash fragments and OCR garble are dominated by such near-hapax tokens
    while natural text is not; flag documents past 30%. The global
    frequency relation is the unigram-model family's inherent vocab-sized
    (token, count) map-side pre-aggregation (see COVERAGE.md inventory);
    the per-doc join ships counts, never text. Rates are divisions of
    exact integers."""
    toks = P.tokens("text", d)
    if d == "spark":
        tok = f"SELECT doc_id, tok FROM documents LATERAL VIEW explode({toks}) t AS tok"
    else:
        tok = f"SELECT doc_id, unnest({toks}) AS tok FROM documents"
    return f"""
WITH tok AS ({tok}),
gf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY tok)
SELECT tok.doc_id AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN gf.n <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       CAST(round(CAST(SUM(CASE WHEN gf.n <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS DOUBLE) AS rare_share,
       CAST(CASE WHEN CAST(SUM(CASE WHEN gf.n <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) > 0.3
                 THEN 1 ELSE 0 END AS INT) AS gibberish_flag
FROM tok JOIN gf ON tok.tok = gf.tok
GROUP BY tok.doc_id
ORDER BY tok.doc_id
"""


TEMPLATES["order_total_reconciliation"] = order_total_reconciliation
TEMPLATES["filter_venn_attribution"] = filter_venn_attribution
TEMPLATES["adjacent_dup_streaks"] = adjacent_dup_streaks
TEMPLATES["oov_rate_by_source"] = oov_rate_by_source
TEMPLATES["benford_first_digit"] = benford_first_digit
TEMPLATES["simpson_sign_flip"] = simpson_sign_flip
TEMPLATES["interarrival_exp_fit"] = interarrival_exp_fit
TEMPLATES["event_debounce_rate"] = event_debounce_rate
TEMPLATES["ndcg_graded_retrieval"] = ndcg_graded_retrieval
TEMPLATES["rare_token_share"] = rare_token_share


# ---------------------------------------------------------------------------
# Round-12 wave 2: privacy / survival / monitoring / dedup-aware-mixture.
# Same conventions as wave 1 (literal constants, exact integers, MIN=MAX
# guards, round+0.0 on sign-crossing outputs).


def l_diversity_audit(d: str) -> str:
    """l-diversity audit — k_anonymity_audit's sensitive-attribute
    complement for an event-log release: group events by the
    quasi-identifier tuple (user-id bucket, day-of-week) and measure each
    class's diversity l = distinct event types (the sensitive attribute).
    A class with l = 1 leaks its members' activity even when k-anonymous
    (everyone in it did the SAME thing). Output is the l histogram with
    the event mass at risk; one grouped agg over a narrow projection, l
    is bounded by the type dimension, everything after is dim-sized."""
    dow = f"CAST(({_idiv(_ts_us(d), str(86400 * 1_000_000), d)}) % 7 AS INT)"
    return f"""
WITH g AS (
  SELECT user_id % 50 AS ubucket, {dow} AS dow,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT event_type) AS INT) AS l
  FROM events GROUP BY user_id % 50, {dow}
),
tot AS (SELECT SUM(n_events) AS t FROM g)
SELECT g.l AS l,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(g.n_events) AS BIGINT) AS n_events,
       CAST(round(CAST(SUM(g.n_events) AS DOUBLE) / tot.t, 6) AS DOUBLE) AS event_share,
       CAST(CASE WHEN g.l < 2 THEN 1 ELSE 0 END AS INT) AS leaky
FROM g CROSS JOIN tot
GROUP BY g.l, tot.t
ORDER BY g.l
"""


SURVIVAL_HORIZONS = (1, 3, 7, 14)


def conversion_survival_curve(d: str) -> str:
    """Kaplan-Meier-lite conversion survival: per horizon (1/3/7/14 days),
    the share of users who reached their first 'purchase' within the
    horizon of their FIRST observed event, among users whose observation
    window (first event -> corpus end) covers the horizon — right-censored
    users (window shorter than the horizon) drop out of that horizon's
    at-risk set instead of deflating the rate, the censoring mistake naive
    funnel math makes. One per-user agg, a global-max scalar, a 4-row
    horizon dim; exact integer day arithmetic (epoch-microsecond
    differences against literal day lengths)."""
    ts = _ts_us(d)
    if d == "spark":
        horizons = ("SELECT explode(array(" +
                    ", ".join(str(h) for h in SURVIVAL_HORIZONS) + ")) AS h")
    else:
        horizons = ("SELECT unnest([" +
                    ", ".join(str(h) for h in SURVIVAL_HORIZONS) + "]) AS h")
    return f"""
WITH u AS (
  SELECT user_id, MIN({ts}) AS t0,
         MIN(CASE WHEN event_type = 'purchase' THEN {ts} END) AS tp
  FROM events GROUP BY user_id
),
endt AS (SELECT MAX({ts}) AS tmax FROM events),
h AS ({horizons})
SELECT CAST(h.h AS INT) AS horizon_days,
       CAST(SUM(CASE WHEN endt.tmax - u.t0 >= h.h * 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_at_risk,
       CAST(SUM(CASE WHEN endt.tmax - u.t0 >= h.h * 86400000000
                      AND u.tp IS NOT NULL
                      AND u.tp - u.t0 <= h.h * 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
       CAST(round(CAST(SUM(CASE WHEN endt.tmax - u.t0 >= h.h * 86400000000
                                 AND u.tp IS NOT NULL
                                 AND u.tp - u.t0 <= h.h * 86400000000 THEN 1 ELSE 0 END) AS DOUBLE)
                  / nullif(SUM(CASE WHEN endt.tmax - u.t0 >= h.h * 86400000000 THEN 1 ELSE 0 END), 0), 6)
            AS DOUBLE) AS conversion_rate
FROM u CROSS JOIN endt CROSS JOIN h
GROUP BY h.h
ORDER BY horizon_days
"""


def daily_volume_anomalies(d: str) -> str:
    """Seasonally-adjusted daily volume anomalies — dow_seasonality turned
    into a monitor: each day's event count is z-scored against ITS
    day-of-week's mean/sd (population form from exact integer count
    moments — both engines derive identical doubles), and |z| > 3 flags
    the day. The MIN=MAX degenerate guard (all same-dow days identical)
    yields NULL z, never a division blow-up (the r11 rule: variance-like
    guards must be the exact MIN=MAX test). Two dim-sized aggs over the
    daily-count relation; output is one row per observed day."""
    day = f"CAST({_idiv(_ts_us(d), str(86400 * 1_000_000), d)} AS BIGINT)"
    return f"""
WITH daily AS (
  SELECT {day} AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY {day}
),
bydow AS (
  SELECT CAST(day % 7 AS INT) AS dow,
         CAST(SUM(n) AS DOUBLE) AS s1, CAST(SUM(n * n) AS DOUBLE) AS s2,
         CAST(COUNT(*) AS DOUBLE) AS k,
         MIN(n) AS nlo, MAX(n) AS nhi
  FROM daily GROUP BY CAST(day % 7 AS INT)
)
SELECT daily.day AS day, bydow.dow AS dow, daily.n AS n_events,
       CAST(round(CASE WHEN bydow.nlo = bydow.nhi THEN NULL
                       ELSE (daily.n - bydow.s1 / bydow.k)
                            / sqrt(bydow.s2 / bydow.k - (bydow.s1 / bydow.k) * (bydow.s1 / bydow.k)) END, 6) + 0.0
            AS DOUBLE) AS z,
       CAST(CASE WHEN bydow.nlo = bydow.nhi THEN 0
                 WHEN abs((daily.n - bydow.s1 / bydow.k)
                          / sqrt(bydow.s2 / bydow.k - (bydow.s1 / bydow.k) * (bydow.s1 / bydow.k))) > 3.0
                 THEN 1 ELSE 0 END AS INT) AS anomaly
FROM daily JOIN bydow ON CAST(daily.day % 7 AS INT) = bydow.dow
ORDER BY day
"""


def dedup_weighted_mass(d: str) -> str:
    """Dedup-aware mixture mass: every document weighted 1/|its exact-dup
    cluster| (whitespace-normalized fingerprint), rolled up per source —
    the token mass a dedup-aware sampler would ACTUALLY draw from each
    source vs the raw mass (a source that is 90% mirror copies contributes
    far less unique signal than its row count suggests; feeding raw masses
    to the mixture designer over-weights it). Weighted sums accumulate via
    exact_sum (scale 4: |t/csize| <= doc token count, safe past 10^11
    rows/source); everything is (fingerprint)- or source-keyed hash aggs,
    text never shuffles twice."""
    toks = P.tokens("text", d)
    n_tok = f"size({toks})" if d == "spark" else f"len({toks})"
    fp = TA.fingerprint_sql("text", d)
    return f"""
WITH f AS (
  SELECT doc_id, source, CAST({n_tok} AS BIGINT) AS t, {fp} AS fp
  FROM documents
),
cs AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS csize FROM f GROUP BY fp)
SELECT f.source AS source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(f.t) AS BIGINT) AS raw_tokens,
       CAST(round({P.exact_sum('CAST(f.t AS DOUBLE) / cs.csize', d, 4)}, 6) AS DOUBLE)
           AS dedup_weighted_tokens,
       CAST(round({P.exact_sum('CAST(f.t AS DOUBLE) / cs.csize', d, 4)}
                  / nullif(CAST(SUM(f.t) AS DOUBLE), 0), 6) AS DOUBLE) AS unique_mass_ratio
FROM f JOIN cs ON f.fp = cs.fp
GROUP BY f.source
ORDER BY f.source
"""


def type_mix_drift_daily(d: str) -> str:
    """Event-type mixture drift monitor: each day's event-type distribution
    vs the global mixture, as total-variation distance (0.5 * L1) — the
    composition alarm next to the volume alarm (daily_volume_anomalies
    fires on HOW MUCH, this fires on WHAT: a day with normal volume but
    all errors). The per-day sum runs over the bounded type dimension via
    exact_sum (terms <= 1), so the statistic is merge-order independent;
    the global mixture is a 5-row broadcast."""
    day = f"CAST({_idiv(_ts_us(d), str(86400 * 1_000_000), d)} AS BIGINT)"
    return f"""
WITH dtc AS (
  SELECT {day} AS day, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY {day}, event_type
),
dt AS (SELECT day, SUM(n) AS n_day FROM dtc GROUP BY day),
g AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_g FROM dtc GROUP BY event_type),
tot AS (SELECT SUM(n_g) AS t FROM g),
terms AS (
  SELECT dt.day AS day, dt.n_day AS n_day,
         abs(CAST(COALESCE(dtc.n, 0) AS DOUBLE) / dt.n_day
             - CAST(g.n_g AS DOUBLE) / tot.t) AS term
  FROM dt CROSS JOIN g CROSS JOIN tot
  LEFT JOIN dtc ON dtc.day = dt.day AND dtc.event_type = g.event_type
)
SELECT day, CAST(MAX(n_day) AS BIGINT) AS n_events,
       CAST(round(0.5 * {P.exact_sum('term', d, 9)}, 6) AS DOUBLE) AS tv_distance,
       CAST(CASE WHEN 0.5 * {P.exact_sum('term', d, 9)} > 0.2 THEN 1 ELSE 0 END AS INT) AS drifted
FROM terms
GROUP BY day
ORDER BY day
"""


TEMPLATES["l_diversity_audit"] = l_diversity_audit
TEMPLATES["conversion_survival_curve"] = conversion_survival_curve
TEMPLATES["daily_volume_anomalies"] = daily_volume_anomalies
TEMPLATES["dedup_weighted_mass"] = dedup_weighted_mass
TEMPLATES["type_mix_drift_daily"] = type_mix_drift_daily

# ---------------------------------------------------------------------------
# Round-13 additions: retail/mixture analytics (association lift, RFM,
# concentration, cohort LTV, discount elasticity), embedding cohesion,
# near-dup graph transitivity, metadata-lang noise, event path/concentration
# audits. Same conventions: exact-integer accumulation (P.exact_sum at
# grids that are EXACT for the column's decimal step where possible),
# MIN=MAX degenerate guards, round+0.0 on sign-crossing outputs, literal
# constants, deterministic ORDER BY with unique tiebreaks.
# ---------------------------------------------------------------------------


def _basket_ob_sql(d: str) -> str:
    """(order, brand) incidence relation — the basket rows. DISTINCT is
    per-order bounded (TPC-H orders carry <= 7 lines), so the relation is
    at most lines-sized and the downstream self-join fans out <= C(7,2)
    pairs per order."""
    return (
        "SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand "
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey"
    )


def _basket_body(d: str, rel: str = "ob") -> str:
    return f"""
no AS (SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n FROM {rel}),
bc AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n FROM {rel} GROUP BY brand),
pr AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM {rel} a JOIN {rel} b ON a.okey = b.okey AND a.brand < b.brand
  GROUP BY a.brand, b.brand
)
SELECT p.brand_a AS brand_a, p.brand_b AS brand_b, p.n_ab AS n_ab,
       ca.n AS n_a, cb.n AS n_b,
       CAST(round(CAST(p.n_ab AS DOUBLE) / no.n, 6) AS DOUBLE) AS support,
       CAST(round(CAST(p.n_ab AS DOUBLE) / ca.n, 6) AS DOUBLE) AS confidence_ab,
       CAST(round(CAST(p.n_ab AS DOUBLE) * CAST(no.n AS DOUBLE)
                  / (CAST(ca.n AS DOUBLE) * CAST(cb.n AS DOUBLE)), 6) AS DOUBLE) AS lift
FROM pr p
JOIN bc ca ON p.brand_a = ca.brand
JOIN bc cb ON p.brand_b = cb.brand
CROSS JOIN no
WHERE p.n_ab >= 3
ORDER BY lift DESC, brand_a ASC, brand_b ASC
LIMIT 40
"""


def basket_lift_pairs(d: str) -> str:
    """Market-basket association rules over order contents: support /
    confidence / lift for unordered brand pairs co-occurring in one order —
    the classic co-purchase screen (lift > 1 = bought together more than
    chance). All counts are exact integers; lift divides exactly
    representable integer products (< 2^53), so both engines compute the
    identical double. Candidate pairs come from a per-order self-join whose
    fan-out is bounded by the per-order line count, aggregated to the
    brand-pair dim (<= 300 cells at any corpus size) with map-side combine;
    the LIMIT sorts ROUNDED lift with a unique (brand_a, brand_b) tiebreak
    so the cut is deterministic cross-engine."""
    return f"WITH ob AS ({_basket_ob_sql(d)}),{_basket_body(d)}"


TEMPLATES["basket_lift_pairs"] = basket_lift_pairs
COMPUTE_ONCE["basket_lift_pairs"] = ("ob",)


def _rfm_cust_sql(d: str) -> str:
    """Per-customer RFM raw features from orders: last-order day (exact
    integer epoch-day), order count, lifetime cents (o_totalprice is a 2dp
    double, so floor(x*100+0.5) per row is the exact integer)."""
    day = _epoch_day("o_orderdate", d)
    return f"""SELECT o_custkey AS ckey,
       MAX({day}) AS last_day,
       CAST(COUNT(*) AS BIGINT) AS f,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS m_cents
FROM orders GROUP BY o_custkey"""


def _rfm_body(d: str, rel: str = "cust") -> str:
    if d == "spark":
        pct = lambda col: f"percentile({col}, array(0.25D, 0.5D, 0.75D))"  # noqa: E731
    else:
        pct = lambda col: f"quantile_cont({col}, [0.25, 0.5, 0.75])"  # noqa: E731
    rc = lambda i: _elem("cuts.rc", i, d)  # noqa: E731
    fc = lambda i: _elem("cuts.fc", i, d)  # noqa: E731
    mc = lambda i: _elem("cuts.mc", i, d)  # noqa: E731
    return f"""
gm AS (SELECT MAX(last_day) AS maxd FROM {rel}),
r AS (SELECT ckey, gm.maxd - last_day AS r_days, f, m_cents
      FROM {rel} CROSS JOIN gm),
cuts AS (SELECT {pct('r_days')} AS rc, {pct('f')} AS fc, {pct('m_cents')} AS mc FROM r),
scored AS (
  SELECT CASE WHEN r_days <= {rc(1)} THEN 4 WHEN r_days <= {rc(2)} THEN 3
              WHEN r_days <= {rc(3)} THEN 2 ELSE 1 END AS r_score,
         CASE WHEN f >= {fc(3)} THEN 4 WHEN f >= {fc(2)} THEN 3
              WHEN f >= {fc(1)} THEN 2 ELSE 1 END AS f_score,
         CASE WHEN m_cents >= {mc(3)} THEN 4 WHEN m_cents >= {mc(2)} THEN 3
              WHEN m_cents >= {mc(1)} THEN 2 ELSE 1 END AS m_score,
         f, m_cents
  FROM r CROSS JOIN cuts
)
SELECT CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(round(CAST(SUM(f) AS DOUBLE) / COUNT(*), 6) AS DOUBLE) AS avg_frequency,
       CAST(round(CAST(SUM(m_cents) AS DOUBLE) / (COUNT(*) * 100), 6) AS DOUBLE) AS avg_monetary
FROM scored
GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
"""


def rfm_segments(d: str) -> str:
    """RFM (recency / frequency / monetary) customer segmentation: quartile
    scores per dimension from exact interpolated percentiles over INTEGER
    features (epoch-day recency, order count, lifetime cents — integer
    inputs make the interpolation the same exact rational on both engines,
    the doc_len_percentiles rule), classified against the 3-cut broadcast
    scalars, rolled up to the <= 64 RFM cells. No corpus-sized window: the
    cuts are one sketchable aggregate (swap percentile for approx_percentile
    at 100 TB — the cell assignment and rollup are unchanged) and
    classification is a broadcast-scalar CASE chain."""
    return f"WITH cust AS ({_rfm_cust_sql(d)}),{_rfm_body(d)}"


TEMPLATES["rfm_segments"] = rfm_segments
COMPUTE_ONCE["rfm_segments"] = ("cust",)


def discount_lift_by_brand(d: str) -> str:
    """Discount elasticity screen: per brand, the OLS slope and correlation
    of line quantity against discount — does discounting move volume, and
    for which brands. Moments accumulate on grids that are EXACT for the
    columns' value steps (discount is a 2dp grid -> scale 2/4; quantity is
    integer-valued -> scale 0), so every sum is an exact integer at any
    row count below ~9e16 per brand and both engines derive bit-identical
    statistics; degenerate guards are the exact MIN=MAX tests. One scan,
    one brand-dim agg."""
    mom = f"""CAST(COUNT(*) AS DOUBLE) AS n,
         {P.exact_sum('x', d, 2)} AS sx, {P.exact_sum('y', d, 0)} AS sy,
         {P.exact_sum('x * y', d, 2)} AS sxy,
         {P.exact_sum('x * x', d, 4)} AS sxx, {P.exact_sum('y * y', d, 0)} AS syy,
         MIN(x) AS xlo, MAX(x) AS xhi, MIN(y) AS ylo, MAX(y) AS yhi"""
    return f"""
WITH pts AS (
  SELECT p.p_brand AS brand, l.l_discount AS x, l.l_quantity AS y
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
m AS (SELECT brand, {mom} FROM pts GROUP BY brand)
SELECT brand,
       CAST(n AS BIGINT) AS n_lines,
       CAST(round(sx / n, 6) AS DOUBLE) AS mean_discount,
       CAST(round(sy / n, 6) AS DOUBLE) AS mean_quantity,
       CAST(round(CASE WHEN xlo = xhi THEN NULL
                       ELSE (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0) END, 6) + 0.0
            AS DOUBLE) AS qty_per_discount_slope,
       CAST(round(CASE WHEN xlo = xhi OR ylo = yhi THEN NULL
                       ELSE (n * sxy - sx * sy)
                            / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6) + 0.0
            AS DOUBLE) AS corr
FROM m
ORDER BY brand
"""


TEMPLATES["discount_lift_by_brand"] = discount_lift_by_brand


def supplier_share_hhi(d: str) -> str:
    """Supply-concentration audit: Herfindahl–Hirschman index of supplier
    revenue share per nation, plus the single largest supplier's share —
    the sourcing-risk readout (HHI > 0.25 = concentrated). Revenue
    accumulates as exact integer cents per (nation, supplier) via
    P.exact_sum scale 2 (floor-quantized per row — this is an internal
    weight, not a money output, so the cents grid is plenty and holds
    ~9e16 rows/group); shares and the share-squared sum divide exact
    integers, so both engines agree bit for bit. Plan: one lineitem scan
    with two broadcast dim joins, a (nation, supplier) agg, then
    nation-dim rollups."""
    return f"""
WITH sr AS (
  SELECT n.n_name AS nation, l.l_suppkey AS skey,
         {P.exact_sum('l_extendedprice * (1 - l_discount)', d, 2)} AS rev
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_name, l.l_suppkey
),
nt AS (SELECT nation, {P.exact_sum('rev', d, 2)} AS tot,
              CAST(COUNT(*) AS BIGINT) AS n_sup, MAX(rev) AS mx
       FROM sr GROUP BY nation)
SELECT sr.nation AS nation,
       MAX(nt.n_sup) AS n_suppliers,
       CAST(round({P.exact_sum('(sr.rev / nt.tot) * (sr.rev / nt.tot)', d, 12)}, 6)
            AS DOUBLE) AS hhi,
       CAST(round(MAX(nt.mx) / MAX(nt.tot), 6) AS DOUBLE) AS top_share
FROM sr JOIN nt ON sr.nation = nt.nation
GROUP BY sr.nation
ORDER BY sr.nation
"""


TEMPLATES["supplier_share_hhi"] = supplier_share_hhi


def cohort_ltv_curve(d: str) -> str:
    """Cohort lifetime-value curve: customers cohorted by first-order month,
    cumulative revenue per customer tracked by month offset — the
    money-side companion to weekly_cohort_retention (events). Month index
    is exact integer year*12+month arithmetic; revenue is exact integer
    cents (2dp totalprice); the cumulative window runs over the
    (cohort, offset) dim, never the corpus. Two orders scans (first-order
    dim + the offset rollup) are the de-correlation floor, q17-style."""
    mi = "CAST(EXTRACT(YEAR FROM o_orderdate) * 12 + EXTRACT(MONTH FROM o_orderdate) AS BIGINT)"
    return f"""
WITH o AS (
  SELECT o_custkey AS ckey, {mi} AS mi,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
firsts AS (SELECT ckey, MIN(mi) AS m0 FROM o GROUP BY ckey),
sz AS (SELECT m0, CAST(COUNT(*) AS BIGINT) AS cohort_n FROM firsts GROUP BY m0),
rev AS (
  SELECT f.m0 AS m0, o.mi - f.m0 AS offset_m,
         CAST(SUM(o.cents) AS BIGINT) AS cents,
         CAST(COUNT(DISTINCT o.ckey) AS BIGINT) AS n_active
  FROM o JOIN firsts f ON o.ckey = f.ckey
  GROUP BY f.m0, o.mi - f.m0
)
SELECT CAST(r.m0 AS BIGINT) AS cohort_month_idx,
       CAST(r.offset_m AS INT) AS month_offset,
       sz.cohort_n AS cohort_size,
       r.n_active AS n_active,
       CAST(round(CAST(r.cents AS DOUBLE) / 100, 6) AS DOUBLE) AS revenue,
       CAST(round(CAST(SUM(r.cents) OVER (PARTITION BY r.m0 ORDER BY r.offset_m ASC) AS DOUBLE)
                  / (CAST(sz.cohort_n AS DOUBLE) * 100), 6) AS DOUBLE) AS cum_ltv_per_customer
FROM rev r JOIN sz ON r.m0 = sz.m0
ORDER BY cohort_month_idx, month_offset
"""


TEMPLATES["cohort_ltv_curve"] = cohort_ltv_curve


def _cohesion_u_sql(d: str) -> str:
    """Unit-normalized embedding relation (zero-norm vectors excluded —
    they carry no direction). The per-row normalization fold is
    deterministic IEEE arithmetic, identical on both engines."""
    arr = P.to_double_array("embedding", d)
    nrm = P.norm2("v", d)
    tx = "transform" if d == "spark" else "list_transform"
    return f"""SELECT vec_id, label, {tx}(v, x -> x / nv) AS u
FROM (SELECT vec_id, label, v, {nrm} AS nv
      FROM (SELECT vec_id, label, {arr} AS v FROM embeddings) b0) b1
WHERE nv > 0"""


def _cohesion_body(d: str, rel: str = "u") -> str:
    comp = f"element_at(r.u, i.i)" if d == "spark" else "(r.u)[i.i]"
    sd = P.dot("u", "u", d)
    return f"""
idx AS ({_dim_idx(d)}),
sums AS (
  SELECT r.label AS label, i.i AS i, {P.exact_avg(comp, d, 9)} AS sbar
  FROM {rel} r CROSS JOIN idx i
  GROUP BY r.label, i.i
),
c2 AS (SELECT label, {P.exact_sum('sbar * sbar', d, 12)} AS c2 FROM sums GROUP BY label),
g AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n, {P.exact_sum('sd', d, 6)} AS selfsum
  FROM (SELECT label, {sd} AS sd FROM {rel}) t GROUP BY label
)
SELECT g.label AS label, g.n AS n_vectors,
       CAST(round(sqrt(c2.c2), 6) AS DOUBLE) AS centroid_norm,
       CAST(round(CASE WHEN g.n < 2 THEN NULL
                       ELSE (CAST(g.n AS DOUBLE) * g.n * c2.c2 - g.selfsum)
                            / (CAST(g.n AS DOUBLE) * (g.n - 1)) END, 6) + 0.0
            AS DOUBLE) AS mean_pairwise_cosine
FROM g JOIN c2 ON g.label = c2.label
ORDER BY g.label
"""


def label_cohesion_pairwise(d: str) -> str:
    """EXACT mean pairwise cosine within each label, without any pair join:
    for unit vectors, sum_(i<>j) u_i.u_j = ||sum u||^2 - sum ||u_i||^2, so
    the O(n^2) statistic collapses to per-dimension sums — the SemDeDup-
    style cluster-coherence readout at one-scan cost. Capacity: per-dim
    means via exact_avg scale 9 hold ~2e9 vectors/label, and selfsum
    (each row's ||u||^2 ~ 1) accumulates at scale 6 — ~9e12 rows/label
    before BIGINT pressure (r13 review: scale 12 overflowed at ~9e6; the
    1e-6 grid costs <1e-6/(n-1) on the cohesion, far inside round-6);
    drop scales a notch past those bounds. centroid_norm (||mean
    vector||) reads dispersion directly: 1 = all identical, ~0 =
    directionally uniform. The dim pivot is the fixed 1..64 index
    relation (embedding_centroid_outliers plan shape); the self-dot sum
    is per-row deterministic folds."""
    return f"WITH u AS ({_cohesion_u_sql(d)}),{_cohesion_body(d)}"


TEMPLATES["label_cohesion_pairwise"] = label_cohesion_pairwise
COMPUTE_ONCE["label_cohesion_pairwise"] = ("u",)


TRANSITIVITY_CENTER_MOD = 8  # wedge-center sampling divisor (see docstring)


def _transitivity_body(d: str, rel: str = "pairs") -> str:
    return f"""
e2 AS (SELECT doc_a AS a, doc_b AS b FROM {rel}
       UNION ALL
       SELECT doc_b AS a, doc_a AS b FROM {rel}),
wedges AS (
  SELECT x.a AS c, x.b AS l, y.b AS r
  FROM e2 x JOIN e2 y ON x.a = y.a AND x.b < y.b
  WHERE x.a % {TRANSITIVITY_CENTER_MOD} = 0
),
closed AS (
  SELECT w.c AS c, CASE WHEN p.doc_a IS NULL THEN 0 ELSE 1 END AS is_closed
  FROM wedges w LEFT JOIN {rel} p ON p.doc_a = w.l AND p.doc_b = w.r
)
SELECT dd.source AS source,
       CAST(COUNT(*) AS BIGINT) AS n_wedges,
       CAST(SUM(is_closed) AS BIGINT) AS n_closed,
       CAST(round(CAST(SUM(is_closed) AS DOUBLE) / COUNT(*), 6) AS DOUBLE) AS transitivity
FROM closed JOIN documents dd ON closed.c = dd.doc_id
GROUP BY dd.source
ORDER BY source
"""


def dedup_chain_transitivity(d: str) -> str:
    """Chaining-risk audit for connected-component dedup: of all wedges
    (A~B, B~C) in the simhash near-dup graph, what fraction close into a
    triangle (A~C also a pair)? Low transitivity means CC canonicalization
    merges documents that are NOT mutually similar — exactly the
    over-merge near_dup_clusters' pointer jumping commits to — so this is
    the go/no-go dial between transitive dedup (drop whole components) and
    conservative pairwise dedup. Wedge volume is sum-of-degree^2 of the
    near-dup graph, which grows SUPERLINEARLY with duplication density
    (268k pairs -> 54.6M wedges at sf0.1), so wedges are generated only at
    a deterministic 1-in-TRANSITIVITY_CENTER_MOD sample of CENTER nodes:
    each sampled center's wedges and closures are computed EXACTLY (the
    closure probe keeps the FULL pair relation), making the per-source
    ratio an unbiased center-sample estimate that both engines compute
    bit-identically — production sizes the divisor from the graph's
    degree histogram. The pair graph itself is the established banded
    single-explode plan. Attribution groups by the wedge CENTER's
    source."""
    bands_sql, select_sql = _simhash_pairs_parts(d)
    return (
        f"WITH fps AS ({_simhash_fps_sql(d)}),\n"
        f"banded AS ({bands_sql}),\n"
        f"pairs AS ({select_sql}),"
        f"{_transitivity_body(d)}"
    )


TEMPLATES["dedup_chain_transitivity"] = dedup_chain_transitivity
COMPUTE_ONCE["dedup_chain_transitivity"] = ("pairs",)


def metadata_lang_mismatch(d: str) -> str:
    """Label-noise audit for the lang METADATA column: per source, how many
    documents' stopword-argmax detected language (the lang_id heuristic)
    contradicts the labeled lang — mislabeled metadata poisons every
    lang-conditioned pipeline stage (per-lang tokenizers, temperature
    mixing, lang-stratified splits). 'und' detections (no stopword hit)
    are reported separately, not counted as mismatches. One scan, one
    source-dim agg; rates divide exact integers."""
    det = TA.lang_id_sql("text", d)
    return f"""
WITH t AS (SELECT source, lang, {det} AS det FROM documents)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN det = 'und' THEN 1 ELSE 0 END) AS BIGINT) AS n_undetermined,
       CAST(SUM(CASE WHEN det <> 'und' AND det <> lang THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
       CAST(round(CAST(SUM(CASE WHEN det <> 'und' AND det <> lang THEN 1 ELSE 0 END) AS DOUBLE)
                  / nullif(SUM(CASE WHEN det <> 'und' THEN 1 ELSE 0 END), 0), 6)
            AS DOUBLE) AS mismatch_share
FROM t
GROUP BY source
ORDER BY source
"""


TEMPLATES["metadata_lang_mismatch"] = metadata_lang_mismatch


def session_trigram_paths(d: str) -> str:
    """Top behavioral trigram paths: the most frequent 3-step event-type
    sequences within a user's ordered stream — the sequence-pattern depth
    event_markov_transitions (first-order) cannot express (a Markov chain
    with identical bigram stats can have wildly different trigram mass).
    Two key-partitioned LAGs, one path-dim agg (<= |types|^3 cells), a
    dim-sized share window, TakeOrdered top-20 on (count desc, path asc)."""
    ts = _ts_us(d)
    return f"""
WITH seq AS (
  SELECT LAG(event_type, 2) OVER w AS e1,
         LAG(event_type, 1) OVER w AS e2,
         event_type AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY {ts} ASC, event_id ASC)
),
g AS (
  SELECT concat(e1, '>', e2, '>', e3) AS path, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE e1 IS NOT NULL
  GROUP BY concat(e1, '>', e2, '>', e3)
)
SELECT path, n,
       CAST(round(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS DOUBLE) AS share
FROM g
ORDER BY n DESC, path ASC
LIMIT 20
"""


TEMPLATES["session_trigram_paths"] = session_trigram_paths


LORENZ_CUTS = (1, 5, 10, 50)


def _lorenz_uc_sql(d: str) -> str:
    return "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY user_id"


def _lorenz_body(d: str, rel: str = "uc") -> str:
    if d == "spark":
        cuts = "SELECT explode(array(" + ", ".join(str(p) for p in LORENZ_CUTS) + ")) AS p"
    else:
        cuts = "SELECT unnest([" + ", ".join(str(p) for p in LORENZ_CUTS) + "]) AS p"
    kk = _idiv("(tot.users * cd.p + 99)", "100", d)
    return f"""
vc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS nu FROM {rel} GROUP BY c),
cum AS (
  SELECT c, nu,
         SUM(nu) OVER (ORDER BY c DESC) AS cu,
         SUM(nu * c) OVER (ORDER BY c DESC) AS ce
  FROM vc
),
tot AS (SELECT CAST(SUM(nu) AS BIGINT) AS users, CAST(SUM(nu * c) AS BIGINT) AS events FROM vc),
k AS (SELECT cd.p AS p, CAST({kk} AS BIGINT) AS kk FROM ({cuts}) cd CROSS JOIN tot)
SELECT CAST(k.p AS INT) AS top_pct,
       k.kk AS k_users,
       CAST(cum.ce - (cum.cu - k.kk) * cum.c AS BIGINT) AS events_top,
       CAST(round(CAST(cum.ce - (cum.cu - k.kk) * cum.c AS DOUBLE) / tot.events, 6)
            AS DOUBLE) AS event_share
FROM k
JOIN cum ON cum.cu >= k.kk AND cum.cu - cum.nu < k.kk
CROSS JOIN tot
ORDER BY top_pct
"""


def return_rate_anomaly_by_brand(d: str) -> str:
    """Return-rate QC screen: per brand, the share of lineitems returned
    (l_returnflag = 'R') with a two-proportion z-score against the global
    rate — the defect-attribution readout (|z| > 3 = brand's return rate
    is not sampling noise). All counts exact integers; the z divides
    identically-derived doubles; degenerate global rates (0 or 1) yield
    NULL z via the exact guard. One scan + brand-dim agg + 1-row global."""
    return """
WITH b AS (
  SELECT p.p_brand AS brand,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand
),
g AS (SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(r) AS BIGINT) AS r FROM b)
SELECT b.brand AS brand, b.n AS n_lines, b.r AS n_returned,
       CAST(round(CAST(b.r AS DOUBLE) / b.n, 6) AS DOUBLE) AS return_rate,
       CAST(round(CAST(g.r AS DOUBLE) / g.n, 6) AS DOUBLE) AS global_rate,
       CAST(round(CASE WHEN g.r = 0 OR g.r = g.n THEN NULL
                       ELSE (CAST(b.r AS DOUBLE) / b.n - CAST(g.r AS DOUBLE) / g.n)
                            / sqrt((CAST(g.r AS DOUBLE) / g.n)
                                   * (CAST(1 AS DOUBLE) - CAST(g.r AS DOUBLE) / g.n) / b.n)
                  END, 6) + 0.0 AS DOUBLE) AS z_score
FROM b CROSS JOIN g
ORDER BY brand
"""


TEMPLATES["return_rate_anomaly_by_brand"] = return_rate_anomaly_by_brand


def unit_price_dispersion(d: str) -> str:
    """Pricing-consistency audit: per brand, the dispersion of the realized
    UNIT price (extendedprice / quantity) — coefficient of variation and
    max/min ratio. A brand whose identical parts sell at wildly different
    unit prices signals data-entry noise or uncontrolled discounting
    upstream of any revenue model. Moments accumulate via exact_sum
    (scale 4 for the price, 0 for its square — unit prices reach ~1e5, so
    the squared term holds ~9e8 rows/brand before BIGINT pressure; at a
    larger SF drop the scales one notch). The zero-dispersion guard is
    the exact MIN=MAX test (grid-rounded moments make the naive variance
    tiny-nonzero there — the r11 rule)."""
    mom = f"""CAST(COUNT(*) AS DOUBLE) AS n,
         {P.exact_sum('up', d, 4)} AS s, {P.exact_sum('up * up', d, 0)} AS s2,
         MIN(up) AS lo, MAX(up) AS hi"""
    return f"""
WITH u AS (
  SELECT p.p_brand AS brand, l.l_extendedprice / l.l_quantity AS up
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_quantity > 0
),
m AS (SELECT brand, {mom} FROM u GROUP BY brand)
SELECT brand,
       CAST(n AS BIGINT) AS n_lines,
       CAST(round(s / n, 6) AS DOUBLE) AS mean_unit_price,
       CAST(round(CASE WHEN lo = hi THEN CAST(0 AS DOUBLE)
                       ELSE sqrt(greatest(s2 / n - (s / n) * (s / n), CAST(0 AS DOUBLE)))
                            / (s / n) END, 6) AS DOUBLE) AS cv,
       CAST(round(hi / lo, 6) AS DOUBLE) AS max_min_ratio
FROM m
ORDER BY brand
"""


TEMPLATES["unit_price_dispersion"] = unit_price_dispersion


def _centroid_comp_sql(d: str) -> str:
    """(vec_id, label, dim index, component) — the pivoted embedding
    relation the centroid fit and the distance scoring both read."""
    arr = P.to_double_array("embedding", d)
    comp = "element_at(v.u, i.i)" if d == "spark" else "(v.u)[i.i]"
    return f"""SELECT v.vec_id AS vec_id, v.label AS label, i.i AS i, {comp} AS x
FROM (SELECT vec_id, label, {arr} AS u FROM embeddings) v
CROSS JOIN ({_dim_idx(d)}) i"""


def _centroid_classifier_body(d: str, rel: str = "comp") -> str:
    return f"""
cent AS (SELECT label AS clabel, i, {P.exact_avg('x', d, 9)} AS c
         FROM {rel} GROUP BY label, i),
d2 AS (
  SELECT t.vec_id AS vec_id, t.label AS label, cent.clabel AS clabel,
         {P.exact_sum('(t.x - cent.c) * (t.x - cent.c)', d, 9)} AS dist2
  FROM {rel} t JOIN cent ON t.i = cent.i
  GROUP BY t.vec_id, t.label, cent.clabel
),
best AS (
  SELECT vec_id, label, clabel,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY round(dist2, 9) ASC, clabel ASC) AS rnk
  FROM d2
),
conf AS (
  SELECT label, clabel, CAST(COUNT(*) AS BIGINT) AS n
  FROM best WHERE rnk = 1 GROUP BY label, clabel
)
SELECT CAST(conf.label AS INT) AS true_label,
       CAST(conf.clabel AS INT) AS predicted_label,
       conf.n AS n,
       CAST(round(CAST(conf.n AS DOUBLE)
                  / SUM(conf.n) OVER (PARTITION BY conf.label), 6) AS DOUBLE) AS row_share
FROM conf
ORDER BY true_label, predicted_label
"""


def centroid_classifier_accuracy(d: str) -> str:
    """Nearest-centroid confusion matrix over the embedding store — the
    separability eval label_centroid_margin (margins) and
    knn_label_consensus (kNN votes) don't give: train the one-pass
    centroid classifier and read WHICH labels it confuses with which.
    Centroids are per-(label, dim) exact means; each vector's k distances
    are exact_sum'd squared diffs, so the argmin (rank by the grid-rounded
    dist2, label tiebreak) is engine-identical. Plan: the 64x dim pivot
    feeds the centroid fit and the scoring join (computed once on Spark:
    COMPUTE_ONCE); distances shuffle (vec, label) slim tuples,
    the confusion rollup is labels^2-sized."""
    return f"WITH comp AS ({_centroid_comp_sql(d)}),{_centroid_classifier_body(d)}"


TEMPLATES["centroid_classifier_accuracy"] = centroid_classifier_accuracy
COMPUTE_ONCE["centroid_classifier_accuracy"] = ("comp",)


def _rollup_g_sql(d: str) -> str:
    """The ROLLUP(region, nation) revenue relation (<= |nations| +
    |regions| + 1 rows) — the dim every share-of-parent level reads."""
    return f"""
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         {P.exact_sum('l_extendedprice * (1 - l_discount)', d, 2)} AS rev
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, n.n_name
)
SELECT region, nation, {P.exact_sum('rev', d, 2)} AS rev,
       CAST(GROUPING(region) AS INT) AS gr, CAST(GROUPING(nation) AS INT) AS gn
FROM rev GROUP BY ROLLUP(region, nation)"""


def _rollup_share_body(d: str, rel: str = "g") -> str:
    return f"""
total AS (SELECT rev FROM {rel} WHERE gr = 1 AND gn = 1),
lvl0 AS (
  SELECT 'ALL' AS region, 'ALL' AS nation, rev, rev AS prev, 0 AS level FROM total
),
lvl1 AS (
  SELECT c.region AS region, 'ALL' AS nation, c.rev AS rev, t.rev AS prev, 1 AS level
  FROM {rel} c CROSS JOIN total t WHERE c.gr = 0 AND c.gn = 1
),
lvl2 AS (
  SELECT c.region AS region, c.nation AS nation, c.rev AS rev, p.rev AS prev, 2 AS level
  FROM {rel} c JOIN {rel} p ON p.region = c.region
  WHERE c.gr = 0 AND c.gn = 0 AND p.gr = 0 AND p.gn = 1
)
SELECT region, nation,
       CAST(round(rev, 2) AS DOUBLE) AS revenue,
       CAST(round(rev / prev, 6) AS DOUBLE) AS share_of_parent,
       CAST(level AS INT) AS level
FROM (SELECT * FROM lvl0 UNION ALL SELECT * FROM lvl1 UNION ALL SELECT * FROM lvl2) u
ORDER BY level, region, nation
"""


def rollup_share_of_parent(d: str) -> str:
    """Hierarchical revenue rollup with share-of-parent: region -> nation
    ROLLUP where every nation row carries its share of its region and
    every region row its share of the grand total — the treemap/drilldown
    readout flat GROUP BYs don't give. Revenue is exact integer cents
    (P.exact_sum scale 2); the rollup runs over the nation-dim relation
    (25 rows), and parents resolve per level — nation rows equi-join
    their region subtotal, region rows cross-join the 1-row grand total.
    The rollup relation feeds FOUR consumers, so Spark computes it once
    (COMPUTE_ONCE; inlining re-ran the lineitem scan per branch
    and the unknown-stats 1-row cross join planned a CartesianProduct;
    materialized, it broadcasts). GROUPING() is evaluated identically on
    both engines; output keys are COALESCE'd to 'ALL' so the hash compare
    never sees engine NULL-ordering differences."""
    return f"WITH g AS ({_rollup_g_sql(d)}),{_rollup_share_body(d)}"


TEMPLATES["rollup_share_of_parent"] = rollup_share_of_parent
COMPUTE_ONCE["rollup_share_of_parent"] = ("g",)


CONTAINMENT_MIN = 0.5
CONTAINMENT_DIR = 0.8


def _containment_shingled_sql(d: str) -> str:
    """Distinct trigram-shingle hashes per doc (the ngram_jaccard blocking
    shape: quadratic only within a source)."""
    from oaim_sandbox_spark.queries_dedup import NGRAM

    sh = f"transform({P.word_ngrams('text', NGRAM, 'spark')}, s -> {P.hash64('s', 'spark')})"
    if d == "spark":
        return f"SELECT doc_id, source, explode(array_distinct({sh})) AS sh FROM documents"
    sh_d = f"list_distinct(list_transform({P.word_ngrams('text', NGRAM, 'duck')}, s -> {P.hash64('s', 'duck')}))"
    return f"SELECT doc_id, source, unnest({sh_d}) AS sh FROM documents"


def _containment_body(d: str, rel: str = "shingled") -> str:
    ca = "CAST(i.n_inter AS DOUBLE) / a.n_sh"
    cb = "CAST(i.n_inter AS DOUBLE) / b.n_sh"
    return f"""
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM {rel} GROUP BY doc_id),
i AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM {rel} l JOIN {rel} r
    ON l.source = r.source AND l.sh = r.sh AND l.doc_id < r.doc_id
  GROUP BY l.doc_id, r.doc_id
)
SELECT i.doc_a AS doc_a, i.doc_b AS doc_b, i.n_inter AS n_shared,
       a.n_sh AS n_a, b.n_sh AS n_b,
       CAST(round({ca}, 6) AS DOUBLE) AS containment_a,
       CAST(round({cb}, 6) AS DOUBLE) AS containment_b,
       CASE WHEN {ca} >= {CONTAINMENT_DIR} AND {cb} >= {CONTAINMENT_DIR} THEN 'mutual'
            WHEN {ca} >= {CONTAINMENT_DIR} THEN 'a_in_b'
            WHEN {cb} >= {CONTAINMENT_DIR} THEN 'b_in_a'
            ELSE 'partial' END AS direction
FROM i
JOIN sizes a ON a.doc_id = i.doc_a
JOIN sizes b ON b.doc_id = i.doc_b
WHERE GREATEST({ca}, {cb}) >= {CONTAINMENT_MIN}
ORDER BY doc_a, doc_b
"""


def containment_direction_pairs(d: str) -> str:
    """ASYMMETRIC containment for near-dup pairs: Jaccard treats a quote
    and its container as weakly similar, but containment |A∩B|/|A| reads
    1.0 when A is fully embedded in B — the quote/expansion detector that
    decides WHICH side of a near-dup pair to keep (drop the contained
    fragment, keep the superset document). Same source-blocked shingle
    join as ngram_jaccard_pairs; adds the two directed ratios and a
    direction verdict at the 0.8 threshold. Ratios divide exact integers;
    the shingle relation feeds three consumers, so Spark computes it once
    (COMPUTE_ONCE)."""
    return f"WITH shingled AS ({_containment_shingled_sql(d)}),{_containment_body(d)}"


TEMPLATES["containment_direction_pairs"] = containment_direction_pairs
COMPUTE_ONCE["containment_direction_pairs"] = ("shingled",)


def user_concentration_lorenz(d: str) -> str:
    """Activity-concentration Lorenz points: the share of all events
    produced by the top 1/5/10/50% most active users — the skew readout
    that sizes salting/partition strategy (a 1%-of-users-half-the-events
    stream needs hot-key handling everywhere user_id keys a shuffle).
    EXACT at any scale with no corpus window: per-user counts collapse to
    the distinct-count-VALUE dim (the token_gini rule), the cumulative
    window runs over those values, and each cut resolves via integer
    bracketing arithmetic (ceil via integer division; partial users at
    the bracket value contribute exactly (k - cu_prev) * c events)."""
    return f"WITH uc AS ({_lorenz_uc_sql(d)}),{_lorenz_body(d)}"


TEMPLATES["user_concentration_lorenz"] = user_concentration_lorenz
COMPUTE_ONCE["user_concentration_lorenz"] = ("uc",)


# ---------------------------------------------------------------------------
# Round-13 wave 2: privacy distribution-distance (t-closeness), ranking
# quality (tie-corrected AUC), marketing attribution (first touch), ops
# trend (latency OLS drift), Pareto inventory classes, embedding-geometry
# calibration (pair-cosine histogram), near-dup graph assortativity, event
# timing (transition dwell), session entry/exit matrix, and categorical
# independence (chi-squared). Same conventions as wave 1: exact integer
# accumulation wherever the data allows, P.exact_sum for small-dim double
# sums, MIN=MAX degenerate guards, round+0.0 on sign-crossing outputs,
# CAST(... AS DOUBLE) never bare decimal literals, deterministic ORDER BY
# with unique tiebreaks.
# ---------------------------------------------------------------------------

def _tclose_cls_sql(d: str) -> str:
    """(lang, source, length-bucket) class histogram — the t-closeness
    input relation. Buckets reuse k_anonymity_audit's exact integer
    bucketing (LEAST(9, n_chars div 100)) so the two privacy audits read
    the same equivalence-class geometry. NULL quasi-identifiers coalesce
    to a sentinel BEFORE grouping (review r13c): the downstream grid
    equality joins never match NULL keys, so a NULL-lang class would
    silently report n_docs=0 / t NULL — a real equivalence class the
    audit exists to flag (the k-anon/l-div siblings group directly and
    keep NULL classes; the sentinel keeps this audit consistent)."""
    lb = f"CAST(LEAST(9, {_idiv('n_chars', '100', d)}) AS INT)"
    lang = "COALESCE(lang, '(null)')"
    src = "COALESCE(source, '(null)')"
    return (
        f"SELECT {lang} AS lang, {src} AS source, {lb} AS lb, "
        f"CAST(COUNT(*) AS BIGINT) AS n "
        f"FROM documents GROUP BY {lang}, {src}, {lb}"
    )


def _tclose_body(d: str, rel: str = "cls") -> str:
    if d == "spark":
        buckets = "SELECT explode(sequence(0, 9)) AS lb"
    else:
        buckets = "SELECT unnest(generate_series(0, 9)) AS lb"
    emd = P.exact_sum(
        "ABS(CAST(cum_c AS DOUBLE) / ct - CAST(cum_g AS DOUBLE) / gt)", d, 12
    )
    return f"""
gb AS (SELECT lb, CAST(SUM(n) AS BIGINT) AS n FROM {rel} GROUP BY lb),
keys AS (SELECT DISTINCT lang, source FROM {rel}),
grid AS (SELECT k.lang, k.source, b.lb FROM keys k CROSS JOIN ({buckets}) b),
f AS (
  SELECT g.lang, g.source, g.lb,
         COALESCE(c.n, 0) AS n_c, COALESCE(gb.n, 0) AS n_g
  FROM grid g
  LEFT JOIN {rel} c ON c.lang = g.lang AND c.source = g.source AND c.lb = g.lb
  LEFT JOIN gb ON gb.lb = g.lb
),
w AS (
  SELECT lang, source, lb,
         SUM(n_c) OVER (PARTITION BY lang, source ORDER BY lb) AS cum_c,
         SUM(n_g) OVER (PARTITION BY lang, source ORDER BY lb) AS cum_g,
         SUM(n_c) OVER (PARTITION BY lang, source) AS ct,
         SUM(n_g) OVER (PARTITION BY lang, source) AS gt
  FROM f
),
t AS (
  SELECT lang, source, CAST(MAX(ct) AS BIGINT) AS n_docs,
         CAST(round({emd} / 9, 6) AS DOUBLE) AS t_closeness
  FROM w GROUP BY lang, source
)
SELECT lang, source, n_docs, t_closeness,
       CAST(CASE WHEN t_closeness > 0.2 THEN 1 ELSE 0 END AS INT) AS violates_t
FROM t
ORDER BY t_closeness DESC, lang, source
"""


def t_closeness_audit(d: str) -> str:
    """t-closeness audit — the distribution-distance member of the privacy
    family (k_anonymity_audit counts class sizes, l_diversity_audit counts
    distinct sensitive values; neither catches a class whose sensitive
    DISTRIBUTION is skewed). Sensitive attribute: the document length
    bucket (ordered, 10 cells); per quasi-identifier class (lang, source),
    t = normalized EMD between the class's bucket CDF and the corpus CDF
    (for equal-spaced ordered buckets, EMD = mean |CDF delta| over the 9
    interior prefixes). All counts exact integers; each CDF value divides
    exact integers; the 9-term sum goes through P.exact_sum (scale 12,
    |term| <= 1) so the tiny-group merge order can't flip the 6th decimal.
    Shape: one corpus scan to the (class, bucket) histogram, then
    everything is classes x 10 dim-sized; windows partition per class.
    The class at the top of the report leaks its members' length profile
    even when it is k-anonymous and l-diverse."""
    return f"WITH cls AS ({_tclose_cls_sql(d)}),{_tclose_body(d)}"


TEMPLATES["t_closeness_audit"] = t_closeness_audit
COMPUTE_ONCE["t_closeness_audit"] = ("cls",)


def quality_auc_by_source(d: str) -> str:
    """Tie-corrected ROC AUC of the composite quality score as a predictor
    of lang='en', per source — "does the quality heuristic encode language
    identity?" (an AUC far from 0.5 means the gate is a covert language
    filter; the fairness complement to quality_threshold_parity's
    pass-rate view). The score is quantized to a 1e-3 grid FIRST (the
    binned score IS the estimator, exactly computable on both engines and
    bounding the rank relation at <= 1001 cells per source), then AUC uses
    the midrank/trapezoid identity: AUC = sum_v pos_v*(2*neg_below_v +
    neg_v) / (2*P*N) — every term an exact BIGINT, one division at the
    end. Degenerate sources (no positives or no negatives) yield NULL via
    nullif on both engines. Shape: corpus scan -> (source, score-cell)
    counts with map-side combine; the cumulative window runs over the
    score-cell dim, never corpus rows."""
    qs = TA.quality_score_sql("text", d)
    return f"""
WITH s0 AS (
  SELECT source, CAST({qs} AS DOUBLE) AS q,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
),
s AS (
  -- NULL scores (empty/whitespace-only docs: the guarded ratios inside
  -- the composite go NULL) are EXCLUDED before ranking — the engines
  -- disagree on NULL sort position (Spark NULLS FIRST, DuckDB NULLS
  -- LAST), and an unrankable doc has no place in a ranking metric
  SELECT source, CAST(floor(q * 1000 + 0.5) AS BIGINT) AS qm, pos
  FROM s0 WHERE q IS NOT NULL
),
g AS (
  SELECT source, qm,
         CAST(SUM(pos) AS BIGINT) AS np,
         CAST(COUNT(*) - SUM(pos) AS BIGINT) AS nn
  FROM s GROUP BY source, qm
),
c AS (
  SELECT source, qm, np, nn,
         SUM(nn) OVER (PARTITION BY source ORDER BY qm) - nn AS nn_below,
         SUM(np) OVER (PARTITION BY source) AS tp,
         SUM(nn) OVER (PARTITION BY source) AS tn
  FROM g
)
SELECT source,
       CAST(MAX(tp) AS BIGINT) AS n_pos,
       CAST(MAX(tn) AS BIGINT) AS n_neg,
       CAST(round(CAST(SUM(np * (2 * nn_below + nn)) AS DOUBLE)
                  / nullif(CAST(2 * MAX(tp) * MAX(tn) AS DOUBLE), 0), 6)
            AS DOUBLE) AS auc_en
FROM c
GROUP BY source
ORDER BY source
"""


TEMPLATES["quality_auc_by_source"] = quality_auc_by_source


def first_touch_attribution(d: str) -> str:
    """First-touch conversion attribution: each user's FIRST observed event
    type is the acquisition channel; conversion = the user ever fires
    'purchase'. Per channel: users acquired, converters, conversion rate,
    and the channel's share of ALL conversions — the marketing readout a
    funnel (funnel_conversion: fixed stage order) and survival curve
    (conversion_survival_curve: time-to-convert) don't give. First touch
    is rank-1 of a user-partitioned window with the (ts, event_id) unique
    tiebreak; the conversion flag is a per-user grouped MAX; the join is
    user-keyed, the rollup channel-dim-sized. Counts exact integers; the
    two rates are single divisions."""
    ts = _ts_us(d)
    return f"""
WITH r AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY {ts} ASC, event_id ASC) AS rn
  FROM events
),
ft AS (SELECT user_id, event_type AS first_touch FROM r WHERE rn = 1),
cv AS (
  SELECT user_id, MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
tot AS (SELECT CAST(SUM(converted) AS BIGINT) AS conv FROM cv)
SELECT ft.first_touch,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(cv.converted) AS BIGINT) AS n_converted,
       CAST(round(CAST(SUM(cv.converted) AS DOUBLE) / COUNT(*), 6) AS DOUBLE) AS conversion_rate,
       CAST(round(CAST(SUM(cv.converted) AS DOUBLE) / nullif(CAST(tot.conv AS DOUBLE), 0), 6)
            AS DOUBLE) AS conversion_share
FROM ft JOIN cv ON ft.user_id = cv.user_id CROSS JOIN tot
GROUP BY ft.first_touch, tot.conv
ORDER BY ft.first_touch
"""


TEMPLATES["first_touch_attribution"] = first_touch_attribution


def ship_latency_trend(d: str) -> str:
    """Fulfillment-latency DRIFT per order priority: OLS slope of the
    order-to-ship latency (whole days, exact integers) against the order
    date (epoch day, exact integer) — "is fulfillment getting slower over
    time, and for whom?" (order_to_ship_latency reads the static tail;
    this reads the trend). The five classic sums accumulate as exact
    BIGINTs (every term a product of day-scale integers, far inside 2^63
    at certified SFs; at 100 TB center x on the per-group MIN first or
    widen to DECIMAL(38) — the sums, not the algorithm, are the bound).
    The closed-form slope combines the sums as DOUBLEs — each sum is
    < 2^53 so the casts are exact and both engines round the identical
    IEEE products identically. Slope is reported per 1000 days (day-scale
    slopes vanish at 6 dp); degenerate groups (single order date, or
    constant latency for r2) yield NULL via exact MIN=MAX guards. Shape:
    one orderkey join, then a 5-row priority dim carries everything."""
    day = lambda col: _epoch_day(col, d)  # noqa: E731
    return f"""
WITH lt AS (
  SELECT o.o_orderpriority AS priority,
         {day('o.o_orderdate')} AS x,
         {day('l.l_shipdate')} - {day('o.o_orderdate')} AS y
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
fit AS (
  SELECT priority,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * y) AS DOUBLE) AS sxy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx,
         CAST(SUM(y * y) AS DOUBLE) AS syy,
         MIN(x) AS xlo, MAX(x) AS xhi, MIN(y) AS ylo, MAX(y) AS yhi
  FROM lt GROUP BY priority
)
SELECT priority,
       CAST(n AS BIGINT) AS n_lineitems,
       CAST(round(sy / n, 6) + 0.0 AS DOUBLE) AS mean_latency_days,
       CAST(round(CASE WHEN xlo = xhi OR (n * sxx - sx * sx) = 0 THEN NULL
                       ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END * 1000, 6) + 0.0
            AS DOUBLE) AS slope_days_per_1k_days,
       CAST(round(CASE WHEN xlo = xhi OR ylo = yhi
                            OR (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0
                       THEN NULL
                       ELSE ((n * sxy - sx * sy) * (n * sxy - sx * sy))
                            / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6)
            AS DOUBLE) AS r2
FROM fit
ORDER BY priority
"""


TEMPLATES["ship_latency_trend"] = ship_latency_trend


def _abc_pr_sql(d: str) -> str:
    """Per-part revenue in exact 1e-4-dollar units: the DECIMAL product
    l_extendedprice * (1 - l_discount) has scale 4, so scaling by 10^4
    lands on an exact BIGINT — all downstream arithmetic is integer."""
    return (
        f"SELECT l_partkey AS pk, "
        f"CAST(SUM({_dec('l_extendedprice')} * (1 - {_dec('l_discount')})) * 10000 AS BIGINT) AS rev "
        f"FROM lineitem GROUP BY l_partkey"
    )


def _abc_body(d: str, rel: str = "pr") -> str:
    bkt = _idiv("(pr.rev - mm.lo) * 1024", "nullif(mm.hi - mm.lo + 1, 0)", d)
    return f"""
mm AS (SELECT MIN(rev) AS lo, MAX(rev) AS hi, CAST(SUM(rev) AS BIGINT) AS trev FROM {rel}),
b AS (
  SELECT pr.pk, pr.rev, COALESCE(CAST({bkt} AS INT), 0) AS bkt
  FROM {rel} pr CROSS JOIN mm
),
w AS (
  SELECT pk, rev, bkt,
         SUM(rev) OVER (PARTITION BY bkt ORDER BY rev DESC, pk ASC) AS cum_in
  FROM b
),
bt AS (SELECT bkt, CAST(SUM(rev) AS BIGINT) AS brev FROM b GROUP BY bkt),
bp AS (SELECT bkt, SUM(brev) OVER (ORDER BY bkt DESC) - brev AS prefix FROM bt),
c AS (
  SELECT w.pk, w.rev, bp.prefix + w.cum_in AS cum
  FROM w JOIN bp ON w.bkt = bp.bkt
),
cls AS (
  -- DECIMAL(38,0) cross-multiplication (review r13c): cum*100 and trev*95
  -- as BIGINTs cross 2^63 around sf~40 (trev ~2.2e15 1e-4-dollar units at
  -- sf1) — Spark-ANSI would abort while DuckDB silently widens to
  -- HUGEINT, a loud/silent engine divergence. 38-digit decimal integer
  -- arithmetic is exact on both engines to ~1e36, far past any real
  -- corpus; the remaining envelope is SUM(rev) itself (BIGINT, bound
  -- ~9.2e14 dollars total — widen trev to DECIMAL(38,0) too if a corpus
  -- ever approaches it).
  SELECT c.pk, c.rev,
         CASE WHEN CAST(c.cum AS DECIMAL(38,0)) * 100
                   <= CAST(mm.trev AS DECIMAL(38,0)) * 80 THEN 'A'
              WHEN CAST(c.cum AS DECIMAL(38,0)) * 100
                   <= CAST(mm.trev AS DECIMAL(38,0)) * 95 THEN 'B'
              ELSE 'C' END AS abc
  FROM c CROSS JOIN mm
)
SELECT cls.abc AS abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(cls.rev) AS BIGINT) AS revenue_1e4,
       CAST(round(CAST(SUM(cls.rev) AS DOUBLE) / CAST(mm.trev AS DOUBLE), 6) AS DOUBLE) AS revenue_share,
       CAST(MIN(cls.rev) AS BIGINT) AS min_part_rev_1e4,
       CAST(MAX(cls.rev) AS BIGINT) AS max_part_rev_1e4
FROM cls CROSS JOIN mm
GROUP BY cls.abc, mm.trev
ORDER BY abc_class
"""


def abc_revenue_classes(d: str) -> str:
    """ABC (Pareto) inventory classification: parts ranked by exact revenue,
    class A = parts within the leading 80% of cumulative revenue, B to 95%,
    C the tail (a part crossing a boundary goes to the NEXT class — the
    integer cross-multiplication cum*100 <= total*k makes the cut exact
    and engine-identical, no float shares anywhere near the decision).
    The global descending cumulative sum is computed WITHOUT a global
    sort: parts land in 1024 value-range buckets by integer arithmetic
    (the ntile_curriculum two-pass pattern), the within-bucket window is
    bucket-partitioned, and only the 1024-row bucket dim takes an
    unpartitioned prefix window — at 100x the data the per-bucket
    partitions grow, the single-partition work does not. Revenue is exact
    to 1e-4 dollars end-to-end (DECIMAL product, BIGINT units)."""
    return f"WITH pr AS ({_abc_pr_sql(d)}),{_abc_body(d)}"


TEMPLATES["abc_revenue_classes"] = abc_revenue_classes
COMPUTE_ONCE["abc_revenue_classes"] = ("pr",)


COS_PAIR_DIV = 61  # deterministic 1/61 vector thinning — the scale dial


def _cospair_s_sql(d: str) -> str:
    """Deterministically thinned vector sample with hoisted norms: keep
    vec_id % DIV = 0 (review r13c: the earlier 'Knuth-multiplier residue'
    (vec_id * 2654435761) % 61 selected the IDENTICAL set — the multiplier
    is coprime to the divisor, so it permutes residues without mixing the
    zero class — while adding an int64-overflow abort past vec_id ~3.4e9;
    the plain modulus is the same sample with no overflow and no caveat).
    Non-finite vectors are EXCLUDED here (the embedding_health_audit NaN
    lesson, caught by this same review): a NaN component would ride
    through the guarded cosine into CAST(floor(cosv*32)) and exact_avg's
    BIGINT quantization, aborting the whole histogram on exactly the
    stores the health audit exists to flag. Norms are hoisted so the pair
    join multiplies scalars instead of re-folding 64-element arrays."""
    v = P.to_double_array("embedding", d)
    if d == "spark":
        finite = ("size(filter(cast(embedding as array<double>), "
                  "x -> isnan(x) OR abs(x) > 1e308)) = 0")
    else:
        finite = ("len(list_filter(CAST(embedding AS DOUBLE[]), "
                  "x -> isnan(x) OR abs(x) > 1e308)) = 0")
    return (
        f"SELECT vec_id, {v} AS v, {P.norm2(P.to_double_array('embedding', d), d)} AS nrm "
        f"FROM embeddings WHERE vec_id % {COS_PAIR_DIV} = 0 AND {finite}"
    )


def _cospair_body(d: str, rel: str = "s") -> str:
    cos = (
        f"coalesce({P.dot('a.v', 'b.v', d)} / nullif(a.nrm * b.nrm, 0.0), 0.0)"
    )
    mean_cos = P.exact_avg("cosv", d, 9)
    return f"""
p AS (
  SELECT {cos} AS cosv
  FROM {rel} a JOIN {rel} b ON a.vec_id < b.vec_id
),
h AS (SELECT CAST(floor(cosv * 32) AS INT) AS bin, cosv FROM p)
SELECT bin,
       CAST(CAST(bin AS DOUBLE) / 32 AS DOUBLE) AS bin_lo,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(round(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (), 6) AS DOUBLE) AS share,
       CAST(round({mean_cos}, 6) + 0.0 AS DOUBLE) AS mean_cos
FROM h
GROUP BY bin
ORDER BY bin
"""


def cosine_pair_histogram(d: str) -> str:
    """Pairwise-cosine calibration histogram over a deterministic 1/61
    vector sample: the distribution every similarity threshold (semantic
    dedup, ANN acceptance, near-dup cosine) should be calibrated against —
    a corpus whose random-pair cosine mass sits near a chosen threshold
    will flood it. Bins are dyadic (floor(cos*32): the x32 product and
    floor are exact IEEE ops on the bit-identical left-fold cosine, so no
    boundary flicker — the ECE-bin rule); per-bin mean cosine goes through
    P.exact_sum. The sampled pair count is (n/61)^2/2 — quadratic in the
    sample, so the DIVISOR is the scale dial: size it as ~n/sqrt(2*budget)
    to hold a fixed pair budget at any corpus size (documented next to the
    constant). Zero-norm vectors contribute cosine 0 (the guarded-divide
    convention of P.cosine_distance)."""
    return f"WITH s AS ({_cospair_s_sql(d)}),{_cospair_body(d)}"


TEMPLATES["cosine_pair_histogram"] = cosine_pair_histogram
COMPUTE_ONCE["cosine_pair_histogram"] = ("s",)


def _assort_edges_sql(d: str, rel: str) -> str:
    """Near-dup edges: LSH-banded candidate pairs whose signature agreement
    clears est-Jaccard 0.5 — the integer comparison (agreements >= NUM_PERM/2)
    avoids the division entirely. The banding relation is defined ONCE as a
    CTE feeding both join sides (review r13c: the earlier form inlined the
    4-branch banding subquery twice, deviating from _minhash_pairs_body's
    single-definition convention and making the DuckDB oracle evaluate the
    signature scan 8x)."""
    return f"""
SELECT c.doc_a, c.doc_b
FROM (
  WITH banded AS ({_lsh_banded_cte(d, rel)})
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
) c
JOIN {rel} a ON a.doc_id = c.doc_a
JOIN {rel} b ON b.doc_id = c.doc_b
WHERE ({_sig_eq_terms(d)}) >= {NUM_PERM // 2}
"""


def _assort_body(d: str, rel: str = "e") -> str:
    # ONE pass over the edges-x-degrees join (review r13c): the earlier
    # form ran the 3-way join twice (one UNION ALL branch per orientation)
    # — the symmetric estimator's moments collapse instead to per-edge
    # terms (dx+dy, dx^2+dy^2, 2*dx*dy) with n = 2*edges, halving the
    # heaviest stage; every sum stays an exact BIGINT, so the emitted
    # values are bit-identical to the two-branch form.
    return f"""
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS dg
  FROM (SELECT doc_a AS node FROM {rel} UNION ALL SELECT doc_b AS node FROM {rel}) u
  GROUP BY node
),
de AS (
  SELECT da.dg AS dx, db.dg AS dy
  FROM {rel} e JOIN deg da ON da.node = e.doc_a JOIN deg db ON db.node = e.doc_b
),
fit AS (
  SELECT CAST(2 * COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(dx + dy) AS DOUBLE) AS sx,
         CAST(SUM(dx * dx + dy * dy) AS DOUBLE) AS sxx,
         CAST(SUM(2 * dx * dy) AS DOUBLE) AS sxy,
         MIN(LEAST(dx, dy)) AS lo, MAX(GREATEST(dx, dy)) AS hi
  FROM de
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes, CAST(MAX(dg) AS BIGINT) AS max_deg,
              CAST(SUM(dg) AS BIGINT) AS sum_deg
       FROM deg)
SELECT nn.n_nodes,
       CAST(fit.n AS BIGINT) AS n_endpoints,
       nn.max_deg,
       CAST(round(CAST(nn.sum_deg AS DOUBLE) / nn.n_nodes, 6) AS DOUBLE) AS mean_deg,
       CAST(round(CASE WHEN fit.lo = fit.hi OR (fit.n * fit.sxx - fit.sx * fit.sx) = 0 THEN NULL
                       ELSE (fit.n * fit.sxy - fit.sx * fit.sx)
                            / (fit.n * fit.sxx - fit.sx * fit.sx) END, 6) + 0.0
            AS DOUBLE) AS assortativity
FROM fit CROSS JOIN nn
"""


def dup_graph_assortativity(d: str) -> str:
    """Degree assortativity of the near-duplicate graph: Pearson correlation
    between the degrees at the two ends of every edge (both orientations —
    the standard symmetric estimator, so sum(x)=sum(y) and the formula
    collapses to one pair of moments). Positive r = duplication is
    clustered in dense template families; negative r = hub-and-spoke (one
    canonical page many others copy) — two regimes needing different dedup
    strategies (drop-cluster vs keep-canonical). Degrees are exact
    integers; the moment sums are exact BIGINTs cast to DOUBLE (< 2^53,
    so the combination is bit-identical cross-engine); all-equal-degree
    graphs (cliques, perfect matchings) yield NULL via the MIN=MAX guard.
    Edges come from the shared LSH banding (never all-pairs); the eq>=8
    integer test IS est-Jaccard >= 0.5 without the division."""
    body = _assort_body(d).lstrip()
    assert body.startswith("deg AS")
    return (
        f"WITH sigs AS ({_minhash_sigs_sql(d)}),\n"
        f"e AS ({_assort_edges_sql(d, 'sigs')}),\n{body}"
    )


TEMPLATES["dup_graph_assortativity"] = dup_graph_assortativity
COMPUTE_ONCE["dup_graph_assortativity"] = ("sigs", "e")


def transition_dwell_stats(d: str) -> str:
    """Dwell-time profile per event-type transition: for each (from, to)
    pair in a user's ordered stream, the count plus mean / p50 / p90 gap in
    seconds — the TIMING layer event_markov_transitions' probability kernel
    drops (two chains with identical transition probabilities can have
    wildly different pacing; session timeout and debounce windows should be
    read off this table). Gaps are exact integer microseconds from the
    same user-partitioned LAG window as the Markov entry; the mean divides
    an exact BIGINT sum; percentiles interpolate over integers (exact on
    both engines, the doc_len_percentiles rule). Transition cells below 5
    observations are cut (their tails are noise). One key-partitioned
    window, one |types|^2-dim agg."""
    ts = _ts_us(d)
    if d == "spark":
        pcts = "percentile(gap_us, array(0.5D, 0.9D))"
    else:
        pcts = "quantile_cont(gap_us, [0.5, 0.9])"
    e = lambda i: _elem("p", i, d)  # noqa: E731
    return f"""
WITH seq AS (
  SELECT event_type AS to_state,
         LAG(event_type) OVER w AS from_state,
         {ts} - LAG({ts}) OVER w AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY {ts} ASC, event_id ASC)
),
g AS (
  SELECT from_state, to_state,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(gap_us) AS BIGINT) AS sum_us,
         {pcts} AS p
  FROM seq WHERE from_state IS NOT NULL
  GROUP BY from_state, to_state
)
SELECT from_state, to_state, n,
       CAST(round(CAST(sum_us AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000), 6) AS DOUBLE) AS mean_gap_s,
       CAST(round({e(1)} / 1000000, 6) AS DOUBLE) AS p50_gap_s,
       CAST(round({e(2)} / 1000000, 6) AS DOUBLE) AS p90_gap_s
FROM g
WHERE n >= 5
ORDER BY from_state, to_state
"""


TEMPLATES["transition_dwell_stats"] = transition_dwell_stats


def session_entry_exit_profile(d: str) -> str:
    """Session ENTRY/EXIT matrix: sessions cut at 30-minute inactivity gaps
    (the user_activity_sessions rule), each session contributing its first
    and last event type — the landing/bounce readout (which entry points
    lead to which terminal actions) that per-event analytics can't see.
    Per (entry, exit) cell: session count, share, mean events per session,
    mean duration seconds — the last two from exact integer sums. Every
    window is (user [, session])-partitioned: the gap flag, the running
    session id, the entry/exit values, and the per-session rollup all stay
    inside their key partitions; only the (types x types)-dim share window
    is unpartitioned. rn=1 picks one row per session deterministically
    ((ts, event_id) unique tiebreak)."""
    ts = _ts_us(d)
    return f"""
WITH base AS (
  SELECT user_id, event_id, event_type, {ts} AS t,
         CASE WHEN LAG({ts}) OVER w IS NULL
                   OR {ts} - LAG({ts}) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY {ts} ASC, event_id ASC)
),
sess AS (
  SELECT user_id, event_id, event_type, t,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY t ASC, event_id ASC) AS sid
  FROM base
),
per AS (
  SELECT user_id, sid,
         FIRST_VALUE(event_type) OVER ws AS entry_type,
         LAST_VALUE(event_type) OVER (PARTITION BY user_id, sid ORDER BY t ASC, event_id ASC
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS exit_type,
         COUNT(*) OVER wp AS n_events,
         MAX(t) OVER wp - MIN(t) OVER wp AS dur_us,
         ROW_NUMBER() OVER ws AS rn
  FROM sess
  WINDOW ws AS (PARTITION BY user_id, sid ORDER BY t ASC, event_id ASC),
         wp AS (PARTITION BY user_id, sid)
)
SELECT entry_type, exit_type,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(round(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (), 6) AS DOUBLE) AS session_share,
       CAST(round(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 6) AS DOUBLE) AS mean_events,
       CAST(round(CAST(SUM(dur_us) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000), 6)
            AS DOUBLE) AS mean_duration_s
FROM per
WHERE rn = 1
GROUP BY entry_type, exit_type
ORDER BY n_sessions DESC, entry_type, exit_type
"""


TEMPLATES["session_entry_exit_profile"] = session_entry_exit_profile


def _chi2_ct_sql(d: str) -> str:
    """(market segment, brand) contingency counts through the
    lineitem-orders-customer / lineitem-part join chains."""
    return """
SELECT c.c_mktsegment AS seg, p.p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY c.c_mktsegment, p.p_brand
"""


def _chi2_body(d: str, rel: str = "ct") -> str:
    chi2 = P.exact_sum("(CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e", d, 6)
    return f"""
rt AS (SELECT seg, CAST(SUM(n) AS BIGINT) AS rn FROM {rel} GROUP BY seg),
cl AS (SELECT brand, CAST(SUM(n) AS BIGINT) AS cn FROM {rel} GROUP BY brand),
tt AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM {rel}),
dims AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rt) AS r,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM cl) AS c),
f AS (
  SELECT COALESCE(x.n, 0) AS o,
         CAST(g.rn AS DOUBLE) * g.cn / tt.t AS e
  FROM (SELECT rt.seg, cl.brand, rt.rn, cl.cn FROM rt CROSS JOIN cl) g
  LEFT JOIN {rel} x ON x.seg = g.seg AND x.brand = g.brand
  CROSS JOIN tt
),
agg AS (SELECT {chi2} AS chi2 FROM f)
SELECT tt.t AS n_lineitems,
       CAST(dims.r AS INT) AS n_segments,
       CAST(dims.c AS INT) AS n_brands,
       CAST((dims.r - 1) * (dims.c - 1) AS BIGINT) AS dof,
       CAST(round(agg.chi2, 6) AS DOUBLE) AS chi2,
       CAST(round(sqrt(agg.chi2 / nullif(CAST(tt.t AS DOUBLE)
                                         * CAST(LEAST(dims.r - 1, dims.c - 1) AS DOUBLE), 0)), 6)
            AS DOUBLE) AS cramers_v
FROM agg CROSS JOIN tt CROSS JOIN dims
"""


def segment_brand_chi2(d: str) -> str:
    """Chi-squared independence screen between customer market segment and
    purchased part brand (with Cramer's V effect size) — "does segment
    predict brand affinity, or is the cross-sell matrix noise?" The
    categorical-independence member of the correlation family
    (event_corr_matrix: numeric Pearson; basket_lift_pairs: within-basket
    lift). Observed counts are exact integers; expected cells divide exact
    integers as DOUBLEs (bit-identical cross-engine); the cell terms sum
    through P.exact_sum over the r x c grid INCLUDING zero-observed cells
    (the grid cross join — dropping empty cells understates chi2).
    Everything after the first grouped count is (segments x brands)
    dim-sized; degenerate 1-row/1-column tables yield NULL V via nullif."""
    return f"WITH ct AS ({_chi2_ct_sql(d)}),{_chi2_body(d)}"


TEMPLATES["segment_brand_chi2"] = segment_brand_chi2
COMPUTE_ONCE["segment_brand_chi2"] = ("ct",)
