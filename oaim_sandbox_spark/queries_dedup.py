"""Dedup suite: minhash/simhash/jaccard/levenshtein near-dup, CC
canonicalization oracles — dual-dialect templates."""

from __future__ import annotations

from oaim_sandbox_spark.functions import portable as P
from oaim_sandbox_spark.queries_core import (
    ALL_TABLES,
    EMBED_DIM,
    _dec,
    _elem,
    _idiv,
    _str,
    _ts_us,
    events_batch,
    events_stream,
    register_views,
)
from oaim_sandbox_spark.operators.dedup import _band_concat


# --- dedup suite -----------------------------------------------------------

NUM_PERM, BANDS, NGRAM = 16, 4, 3


def minhash_signatures_q(d: str) -> str:
    """MinHash signatures (16 perms over word 3-gram shingles), unnested to
    (doc_id, perm_idx, minhash) scalar rows. Narrow op, no shuffle."""
    hs = P.shingle_hashes("text", NGRAM, d)
    sig = P.minhash_from_hashes("hs", NUM_PERM, d)
    if d == "spark":
        return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(p.i AS INT) AS perm_idx, p.v AS minhash
FROM (SELECT doc_id, {hs} AS hs FROM documents) h
LATERAL VIEW posexplode({sig}) p AS i, v
"""
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(u.i - 1 AS INT) AS perm_idx, u.v AS minhash
FROM (
  SELECT doc_id, unnest(list_transform(list_zip({sig}, generate_series(1, {NUM_PERM})), z -> struct_pack(v := z[1], i := z[2]))) AS u
  FROM (SELECT doc_id, {hs} AS hs FROM documents) h
) t
"""


def _minhash_sigs_sql(d: str) -> str:
    """(doc_id, sig) — MinHash signatures; shingle hashes materialized once.

    Kept in the per-row HOF form (NUM_PERM transform+array_min passes over
    the shingle-hash array) after an A/B against the simhash-style
    aggregation form (explode + NUM_PERM grouped MINs): the permutations are
    cheap integer ops, so the explode's 150x row blowup + doc_id shuffle
    costs MORE than the in-place passes (3.9s vs 2.2s warm at sf0.1). The
    aggregation form wins only when the per-pass work is heavy (simhash's
    60 bit-vote passes)."""
    hs = P.shingle_hashes("text", NGRAM, d)
    sig = P.minhash_from_hashes("hs", NUM_PERM, d)
    return f"SELECT doc_id, {sig} AS sig FROM (SELECT doc_id, {hs} AS hs FROM documents) h"


def _lsh_banded_cte(d: str, rel: str, carry: tuple[str, ...] = (),
                    bands: int = BANDS, num_perm: int = NUM_PERM) -> str:
    """The shared LSH banding relation: one UNION ALL branch per band over
    the signature relation ``rel``, emitting (doc_id[, carry...], band_idx,
    band_hash). Single source of truth for the banding scheme — FIVE
    queries (pairs, incremental probe, split leakage, estimator audit, and
    the r9 banding trade-off table via its bands override) build on it,
    and a banding change must hit all of them at once."""
    rows = num_perm // bands
    carry_sel = "".join(f", {c}" for c in carry)
    return " UNION ALL ".join(
        f"SELECT doc_id{carry_sel}, {b} AS band_idx, "
        f"{P.hash64(_band_concat('sig', b, rows, d), d)} AS band_hash FROM {rel}"
        for b in range(bands)
    )


def _sig_eq_terms(d: str, num_perm: int = NUM_PERM) -> str:
    """Signature-agreement count between pair sides a/b — the estimated-
    Jaccard numerator (divide by num_perm). Shared by every pair scorer."""
    return " + ".join(
        f"CASE WHEN {_elem('a.sig', i + 1, d)} = {_elem('b.sig', i + 1, d)} THEN 1 ELSE 0 END"
        for i in range(num_perm)
    )


def _minhash_pairs_body(d: str, rel: str = "sigs") -> str:
    """LSH banding + pair generation + estimated Jaccard, reading from the
    signature relation `rel` (a CTE that Spark computes once — COMPUTE_ONCE
    — so the signature scan runs once instead of once per band branch)."""
    return f"""
WITH banded AS ({_lsh_banded_cte(d, rel)}),
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
)
SELECT CAST(p.doc_a AS BIGINT) AS doc_a, CAST(p.doc_b AS BIGINT) AS doc_b,
       CAST(round(({_sig_eq_terms(d)}) / {NUM_PERM}.0, 6) AS DOUBLE) AS est_jaccard
FROM pairs p
JOIN {rel} a ON a.doc_id = p.doc_a
JOIN {rel} b ON b.doc_id = p.doc_b
ORDER BY doc_a, doc_b
"""


def minhash_lsh_pairs_q(d: str) -> str:
    """MinHash LSH candidate pairs + signature-estimated Jaccard (scale path
    for corpus dedup: cost ~ sum(bucket²), text never shuffles)."""
    body = _minhash_pairs_body(d)
    # splice sigs into the body's WITH clause
    return body.replace("WITH banded AS", f"WITH sigs AS ({_minhash_sigs_sql(d)}), banded AS", 1)


def _mhq_rel_sql(d: str) -> str:
    """(doc_id, sig, sh): MinHash signature + the DISTINCT shingle-hash set
    it was computed from — the inputs for estimator-quality auditing."""
    hs = P.shingle_hashes("text", NGRAM, d)
    sig = P.minhash_from_hashes("hs", NUM_PERM, d)
    dedup_arr = "array_distinct(hs)" if d == "spark" else "list_distinct(hs)"
    return (
        f"SELECT doc_id, {sig} AS sig, {dedup_arr} AS sh "
        f"FROM (SELECT doc_id, {hs} AS hs FROM documents) h"
    )


def _mhq_body(d: str, rel: str = "sigs") -> str:
    """Candidate-pair generation + per-pair estimate-vs-exact comparison,
    rolled up to estimate-quartile buckets. The per-pair quantities are
    quantized to integer millionths BEFORE aggregation: est is exactly k/16
    (dyadic) and exact*1e6 rounds to an integer, so the sums are
    integer-exact and the cross-engine comparison cannot wobble with float
    summation order."""
    if d == "spark":
        inter = "CAST(size(array_intersect(a.sh, b.sh)) AS DOUBLE)"
        sz = lambda x: f"size({x})"  # noqa: E731
    else:
        inter = "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
        sz = lambda x: f"len({x})"  # noqa: E731
    return f"""
WITH banded AS ({_lsh_banded_cte(d, rel)}),
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
),
scored AS (
  SELECT CAST(round((({_sig_eq_terms(d)}) / {NUM_PERM}.0) * 1000000) AS BIGINT) AS est_q,
         CAST(round(({inter} / ({sz('a.sh')} + {sz('b.sh')} - {inter})) * 1000000) AS BIGINT) AS exact_q
  FROM pairs p
  JOIN {rel} a ON a.doc_id = p.doc_a
  JOIN {rel} b ON b.doc_id = p.doc_b
)
SELECT CAST(LEAST(CAST(FLOOR(est_q / 250000.0) AS INT), 3) AS INT) AS est_quartile,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(round(AVG(est_q) / 1000000.0, 6) AS DOUBLE) AS mean_est,
       CAST(round(AVG(exact_q) / 1000000.0, 6) AS DOUBLE) AS mean_exact,
       CAST(round(AVG(abs(est_q - exact_q)) / 1000000.0, 6) AS DOUBLE) AS mae
FROM scored
GROUP BY LEAST(CAST(FLOOR(est_q / 250000.0) AS INT), 3)
ORDER BY est_quartile
"""


def minhash_estimate_quality(d: str) -> str:
    """Estimator-quality audit for the MinHash dedup path — measure, don't
    guess: every LSH candidate pair carries BOTH the 16-permutation
    signature estimate and the EXACT shingle-set Jaccard (intersect/union
    over the distinct shingle-hash arrays), rolled up per estimate
    quartile: pair counts, mean estimate vs mean exact, and MAE. The audit
    that tells you whether a chosen (num_perm, bands) operating point is
    trustworthy before committing a threshold at corpus scale. Cost: the
    exact sets travel only for CANDIDATE pairs (LSH-bounded), never all
    pairs; document text never moves — hashed shingle arrays only."""
    body = _mhq_body(d)
    return body.replace("WITH banded AS", f"WITH sigs AS ({_mhq_rel_sql(d)}), banded AS", 1)


def _split_sigs_sql(d: str) -> str:
    """(doc_id, split, sig): MinHash signatures tagged with the hash-assigned
    80/10/10 train/val/test split (deterministic, engine-identical)."""
    key = "cast(doc_id as string)" if d == "spark" else "(doc_id::VARCHAR)"
    split = (
        f"CASE WHEN {P.hash64(key, d)} % 10 < 8 THEN 'train' "
        f"WHEN {P.hash64(key, d)} % 10 = 8 THEN 'val' ELSE 'test' END"
    )
    return f"SELECT s.doc_id, {split} AS split, s.sig FROM ({_minhash_sigs_sql(d)}) s"


def _split_leakage_body(d: str, rel: str = "sigs") -> str:
    """Cross-split band join + leak rollup reading (doc_id, split, sig) from
    ``rel`` — a CTE that Spark computes once (COMPUTE_ONCE: the band
    branches and both est-jaccard joins would otherwise recompute the whole
    md5 signature pipeline per reference; measured 32 s -> ~2 s at sf0.1)."""
    return f"""
WITH banded AS ({_lsh_banded_cte(d, rel, carry=("split",))}),
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, l.split AS split_a, r.doc_id AS doc_b, r.split AS split_b
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
   AND l.doc_id < r.doc_id AND l.split <> r.split
),
scored AS (
  SELECT p.doc_a, p.split_a, p.doc_b, p.split_b,
         ({_sig_eq_terms(d)}) / {NUM_PERM}.0 AS est_jaccard
  FROM pairs p
  JOIN {rel} a ON a.doc_id = p.doc_a
  JOIN {rel} b ON b.doc_id = p.doc_b
),
leaks AS (SELECT * FROM scored WHERE est_jaccard >= 0.5),
pair_counts AS (
  SELECT LEAST(split_a, split_b) AS split_lo, GREATEST(split_a, split_b) AS split_hi,
         CAST(COUNT(*) AS BIGINT) AS n_leaked_pairs
  FROM leaks
  GROUP BY LEAST(split_a, split_b), GREATEST(split_a, split_b)
),
members AS (
  -- BOTH members of a pair can be eval docs (a val<->test leak): explode the
  -- pair so each tainted side counts; a CASE over one side undercounts
  SELECT LEAST(split_a, split_b) AS split_lo, GREATEST(split_a, split_b) AS split_hi,
         doc_a AS doc_id, split_a AS member_split FROM leaks
  UNION ALL
  SELECT LEAST(split_a, split_b), GREATEST(split_a, split_b),
         doc_b, split_b FROM leaks
)
SELECT p.split_lo, p.split_hi, p.n_leaked_pairs,
       CAST(COUNT(DISTINCT CASE WHEN m.member_split IN ('val', 'test') THEN m.doc_id END)
            AS BIGINT) AS n_tainted_eval_docs
FROM pair_counts p
JOIN members m ON m.split_lo = p.split_lo AND m.split_hi = p.split_hi
GROUP BY p.split_lo, p.split_hi, p.n_leaked_pairs
ORDER BY p.split_lo, p.split_hi
"""


def split_leakage_check(d: str) -> str:
    """Cross-SPLIT near-dup leakage audit — the decontamination check a
    training pipeline runs BETWEEN its own splits (contamination_rate_by_*
    checks against external benchmarks; this catches a near-copy of a
    training doc leaking into val/test, which silently inflates eval).
    Splits are hash-assigned (80/10/10, deterministic, engine-identical);
    the MinHash band join keeps only CROSS-split candidate pairs, so the
    bucket-join cost stays ~ sum(bucket_train x bucket_eval), never eval².
    Output is split-pair-dim-sized: leaked pair count + the number of
    TAINTED eval docs (distinct val/test members of a leaking pair) —
    the list a pipeline would quarantine before evaluation."""
    body = _split_leakage_body(d)
    return body.replace("WITH banded AS", f"WITH sigs AS ({_split_sigs_sql(d)}), banded AS", 1)


def _incremental_probe_body(d: str, rel: str = "sigs") -> str:
    """New-batch × existing-corpus LSH probe, reading (doc_id, is_new, sig)
    from the signature relation `rel` — the band join keeps ONLY new×existing
    pairs, so steady-state dedup cost is proportional to the batch, never
    existing×existing (operators/dedup.incremental_near_dups is the
    DataFrame-API twin; this is its oracle-checkable SQL shape)."""
    return f"""
WITH banded AS ({_lsh_banded_cte(d, rel, carry=("is_new",))}),
pairs AS (
  SELECT DISTINCT l.doc_id AS new_id, r.doc_id AS existing_id
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
   AND l.is_new AND NOT r.is_new
)
SELECT CAST(p.new_id AS BIGINT) AS new_id, CAST(p.existing_id AS BIGINT) AS existing_id,
       CAST(round(({_sig_eq_terms(d)}) / {NUM_PERM}.0, 6) AS DOUBLE) AS est_jaccard
FROM pairs p
JOIN {rel} a ON a.doc_id = p.new_id
JOIN {rel} b ON b.doc_id = p.existing_id
ORDER BY new_id, existing_id
"""


def _incremental_sigs_sql(d: str) -> str:
    """Signatures + batch flag: doc_id % 10 = 7 plays the 'newly ingested
    batch'; everything else is the standing corpus."""
    return (
        f"SELECT doc_id, (doc_id % 10 = 7) AS is_new, sig "
        f"FROM ({_minhash_sigs_sql(d)}) s"
    )


def incremental_neardup_probe_q(d: str) -> str:
    """Continuous-ingest near-dup probe (steady-state dedup at 100 TB): band
    only the NEW docs against the persisted corpus band keys."""
    body = _incremental_probe_body(d)
    return body.replace("WITH banded AS", f"WITH sigs AS ({_incremental_sigs_sql(d)}), banded AS", 1)


SIMHASH_BITS, SIMHASH_BANDS, MAX_HAMMING = 60, 4, 20


def simhash_fingerprints_q(d: str) -> str:
    """SimHash (60-bit, tf-weighted token hashes) per document."""
    return f"SELECT CAST(doc_id AS BIGINT) AS doc_id, simhash FROM ({_simhash_fps_sql(d)}) f"


def _simhash_fps_sql(d: str) -> str:
    """(doc_id, simhash) in aggregation form — the scale path.

    Semantically identical to functions.portable.simhash (tf-weighted bit
    votes) but restructured for whole-stage codegen: explode tokens, hash
    each instance, then 60 plain SUM(CASE...) aggregates in ONE groupBy
    (doc_id) instead of 60 interpreted lambda passes. ~8x faster than the
    expression form at sf0.1 (r13 opt: and ~1.2x faster again than the
    two-level form) and shuffle-partitioned by doc_id, so it scales out.

    r13 opt #8: the former intermediate COUNT(*) GROUP BY (doc_id, tk)
    stage existed only to run md5 once per DISTINCT doc token — but the
    tf-weighted vote SUM(±w) over distinct tokens equals SUM(±1) over raw
    token INSTANCES (w counts instances; integer sums are exact and
    order-independent, so the fingerprint is bit-identical), and the md5
    was measured at <10% of the stage while the extra (doc_id, tk)
    exchange+aggregate was ~half of it. One exchange instead of two, and
    the map-side partials collapse to one 60-int row per doc per map
    partition — strictly fewer shuffled bytes at any scale."""
    toks = P.tokens("text", d)
    h = P.hash64("tk", d)
    if d == "spark":
        exploded = f"SELECT doc_id, tk FROM documents LATERAL VIEW explode({toks}) t AS tk"
        def bit(j: int) -> str:
            return f"SUM(CASE WHEN (shiftright(h, {j}) % 2) = 1 THEN 1 ELSE -1 END)"
    else:
        exploded = f"SELECT doc_id, unnest({toks}) AS tk FROM documents"
        def bit(j: int) -> str:
            return f"SUM(CASE WHEN ((h >> {j}) & 1) = 1 THEN 1 ELSE -1 END)"
    bit_cols = ", ".join(f"{bit(j)} AS b{j}" for j in range(SIMHASH_BITS))
    sim = " + ".join(f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(SIMHASH_BITS))
    return f"""
SELECT doc_id, CAST({sim} AS BIGINT) AS simhash
FROM (
  SELECT doc_id, {bit_cols}
  FROM (SELECT doc_id, {h} AS h FROM ({exploded}) e) th
  GROUP BY doc_id
) bits
"""


def _simhash_pairs_parts(d: str, rel: str = "fps") -> tuple[str, str]:
    """Banded self-join + hamming verify reading from the fingerprint
    relation `rel` (CTE on the oracle; per-call unique materialized temp
    view on Spark). Returns (banded_relation_sql, pair_select_sql) so
    composing templates can place them in their own WITH chain without
    string surgery on the assembled statement."""
    slice_bits = SIMHASH_BITS // SIMHASH_BANDS
    if d == "spark":
        def band_key(b: int) -> str:
            return f"(simhash div cast(pow(2, {b * slice_bits}) as bigint)) % cast(pow(2, {slice_bits}) as bigint)"
        ham = "bit_count(l.simhash ^ r.simhash)"
    else:
        def band_key(b: int) -> str:
            return f"(simhash // (2**{b * slice_bits})::BIGINT) % (2**{slice_bits})::BIGINT"
        ham = "bit_count(xor(l.simhash, r.simhash))"
    if d == "spark":
        # one explode of (band_idx, band_key) structs instead of a UNION ALL
        # per band: the banded relation is produced in a single pass, so the
        # self-join plan has one exchange per side instead of one per
        # (band x side) branch (r1 plan audit: xchg 17 -> ~3)
        structs = ", ".join(
            f"named_struct('band_idx', {b}, 'band_key', {band_key(b)})"
            for b in range(SIMHASH_BANDS)
        )
        bands_sql = (
            f"SELECT doc_id, simhash, b.band_idx AS band_idx, b.band_key AS band_key "
            f"FROM {rel} LATERAL VIEW explode(array({structs})) t AS b"
        )
    else:
        bands_sql = " UNION ALL ".join(
            f"SELECT doc_id, simhash, {b} AS band_idx, {band_key(b)} AS band_key FROM {rel}"
            for b in range(SIMHASH_BANDS)
        )
    # first-colliding-band filter instead of SELECT DISTINCT: a pair that
    # collides in k bands used to surface k times and be deduplicated by a
    # full-width exchange + aggregate over EVERY candidate pair — the
    # dominant shuffle at high duplication (a 40x-replicated 200k-doc
    # stress spends most of its 279 s there). Both fingerprints are already
    # in the join output, so "this is the pair's FIRST colliding band"
    # (every earlier band's slice differs) is a narrow filter; each
    # qualifying pair then appears exactly once and the exchange vanishes.
    def band_slice(side: str, j: int) -> str:
        if d == "spark":
            return (
                f"({side}.simhash div cast(pow(2, {j * slice_bits}) as bigint))"
                f" % cast(pow(2, {slice_bits}) as bigint)"
            )
        return f"({side}.simhash // (2**{j * slice_bits})::BIGINT) % (2**{slice_bits})::BIGINT"

    whens = " ".join(
        f"WHEN {b} THEN ("
        + " AND ".join(f"{band_slice('l', j)} <> {band_slice('r', j)}" for j in range(b))
        + ")"
        for b in range(1, SIMHASH_BANDS)
    )
    first_band = f"CASE l.band_idx WHEN 0 THEN TRUE {whens} END"
    select_sql = f"""SELECT CAST(l.doc_id AS BIGINT) AS doc_a, CAST(r.doc_id AS BIGINT) AS doc_b,
       {ham} AS hamming
FROM banded l JOIN banded r
  ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.doc_id < r.doc_id
WHERE {ham} <= {MAX_HAMMING} AND {first_band}"""
    return bands_sql, select_sql


def _simhash_pairs_body(d: str, rel: str = "fps") -> str:
    """Banded self-join + hamming verify reading from the fingerprint
    relation `rel`, as one ordered statement (see _simhash_pairs_parts for
    the composable pieces)."""
    bands_sql, select_sql = _simhash_pairs_parts(d, rel)
    return f"""
WITH banded AS ({bands_sql})
{select_sql}
ORDER BY doc_a, doc_b
"""


def simhash_near_pairs_q(d: str) -> str:
    """SimHash near-dup pairs: band the fingerprint into 4 x 15-bit slices
    (pigeonhole-exact for hamming <= 3, prefilter above), verify hamming."""
    body = _simhash_pairs_body(d)
    return body.replace("WITH banded AS", f"WITH fps AS ({_simhash_fps_sql(d)}), banded AS", 1)


def ngram_jaccard_pairs_q(d: str) -> str:
    """Exact n-gram Jaccard within a blocking key (source): set-theoretic
    |A∩B| via shingle-hash equi-join. Quadratic only within blocks; use
    minhash_lsh_pairs for unblocked corpora."""
    sh = f"array_distinct(transform({P.word_ngrams('text', NGRAM, 'spark')}, s -> {P.hash64('s', 'spark')}))"
    if d == "spark":
        shingled = f"SELECT doc_id, source, explode({sh}) AS sh FROM documents"
    else:
        sh_d = f"list_distinct(list_transform({P.word_ngrams('text', NGRAM, 'duck')}, s -> {P.hash64('s', 'duck')}))"
        shingled = f"SELECT doc_id, source, unnest({sh_d}) AS sh FROM documents"
    return f"""
WITH shingled AS ({shingled}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingled GROUP BY doc_id),
inter AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shingled l JOIN shingled r
    ON l.source = r.source AND l.sh = r.sh AND l.doc_id < r.doc_id
  GROUP BY l.doc_id, r.doc_id
)
SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
       CAST(round(n_inter * 1.0 / (a.n_sh + b.n_sh - n_inter), 6) AS DOUBLE) AS jaccard
FROM inter
JOIN sizes a ON a.doc_id = doc_a
JOIN sizes b ON b.doc_id = doc_b
WHERE n_inter * 1.0 / (a.n_sh + b.n_sh - n_inter) >= 0.03
ORDER BY doc_a, doc_b
"""


def embedding_cosine_pairs_q(d: str) -> str:
    """Embedding near-dup: exact all-pairs cosine >= threshold — correctness
    oracle for approximate variants; blocked/LSH'd at real scale. Norms are
    hoisted into a per-row CTE so the O(n²) join computes one dot product per
    pair instead of re-deriving both norms."""
    v = P.to_double_array("embedding", d)
    sim = f"{P.dot('a.v', 'b.v', d)} / (a.n * b.n)"
    return f"""
WITH v AS (SELECT vec_id, {v} AS v, {P.norm2(v, d)} AS n FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({sim}, 6) AS cosine_sim
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE round({sim}, 6) >= 0.35
ORDER BY id_a, id_b
"""

