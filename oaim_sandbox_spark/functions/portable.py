"""Dual-dialect (Spark SQL / DuckDB SQL) expression fragments.

Every data-processing primitive in this engine that must be oracle-checked is
defined ONCE here as a pair of SQL fragments. The Spark side runs JVM-side
inside whole-stage codegen (no Python UDFs in the hot path); the DuckDB side is
only used to build the correctness oracle. Both are exact-integer or
double-precision computations engineered to produce bit-identical results.

Core trick: a portable 60-bit hash
    H(s) = int(md5(s)[:15 hex], 16)            # 0 <= H < 2^60
which both engines can compute (md5 is md5), giving deterministic,
engine-independent minhash / simhash / mock-embeddings.

Conventions:
  - ``e`` arguments are SQL fragments (column names or sub-expressions).
  - All float math is done in DOUBLE on both sides (arrays cast first).
  - DIALECT: 'spark' | 'duck'.
"""

from __future__ import annotations

MOD = 1_000_000_007  # prime modulus for hash-space arithmetic (fits int64 headroom)


def str_cast(e: str, dialect: str) -> str:
    """String cast (Spark: STRING, DuckDB: VARCHAR) — the shared dialect
    helper (queries_core._str and operator modules delegate here)."""
    return f"CAST({e} AS STRING)" if dialect == "spark" else f"CAST({e} AS VARCHAR)"


def hash64(e: str, dialect: str) -> str:
    """Portable 60-bit hash of a string expression."""
    if dialect == "spark":
        return f"cast(conv(substr(md5({e}),1,15),16,10) as bigint)"
    return f"('0x' || substr(md5({e}),1,15))::BIGINT"


def hash_mod(e: str, dialect: str) -> str:
    """Portable hash reduced below MOD (safe for a*h+b in int64)."""
    return f"({hash64(e, dialect)} % {MOD})"


def hash_unit(e: str, dialect: str) -> str:
    """Portable hash of a string expression mapped to the [0, 1) grid in
    millionth steps — THE deterministic-sampling primitive (hash64 is
    non-negative 60-bit, so no negative-modulo bias). Sites that need a
    different interval shape ((0,1] via +1/1000001, centered via +0.5)
    intentionally keep their own expressions: changing any certified
    template's grid would change its sample.

    The divisor is CAST to DOUBLE: a bare 1000000.0 literal parses as
    DECIMAL on Spark, silently typing the whole expression DECIMAL where
    DuckDB yields DOUBLE (cross-engine type drift caught by the portable
    fuzz). Millionth-grid values are exactly representable either way, so
    comparisons and orderings are unchanged — only the type is fixed."""
    return f"(({hash64(e, dialect)} % 1000000) / CAST(1000000 AS DOUBLE))"


def mock_rerank_score(query: str, text: str, dialect: str) -> str:
    """Deterministic stand-in for a cross-encoder relevance model: a portable
    hash of (query ⊕ text) mapped into [0, 1). Keeps the two-stage
    retrieve-then-rerank plumbing fully oracle-checkable — swap in a provider
    rerank client (serving/providers.py) for real scores."""
    pair = f"concat({query}, chr(31), {text})"
    return hash_unit(pair, dialect)


def to_double_array(e: str, dialect: str) -> str:
    if dialect == "spark":
        return f"cast({e} as array<double>)"
    return f"({e})::DOUBLE[]"


def dot(a: str, b: str, dialect: str) -> str:
    """Dot product of two double arrays; sequential left-to-right fold on both
    engines so the float addition order is identical."""
    if dialect == "spark":
        return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0 as double), (s, x) -> s + x)"
    return f"list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip({a}, {b}), p -> p[1] * p[2])), (s, x) -> s + x)"


def norm2(a: str, dialect: str) -> str:
    """L2 norm."""
    if dialect == "spark":
        return f"sqrt(aggregate(transform({a}, x -> x * x), cast(0 as double), (s, x) -> s + x))"
    return f"sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform({a}, x -> x * x)), (s, x) -> s + x))"


def norm2_rows(mat):
    """``norm2`` of each row of a [m, d] matrix, computed on the host: the
    squares accumulate per dimension left to right, the same IEEE-double
    sequence as the SQL fold, so each norm is bit-identical to ``norm2``
    over the same doubles."""
    import numpy as np

    mat = np.asarray(mat, dtype=np.float64)
    acc = np.zeros(mat.shape[0], dtype=np.float64)
    with np.errstate(over="ignore"):  # overflow to inf, as the SQL fold does
        for j in range(mat.shape[1]):
            acc += mat[:, j] * mat[:, j]
    return np.sqrt(acc)


def fold_distances(vecs, qmat, metric: str, valid, row_norms=None, qnorm=None, scale=None):
    """Raw (unrounded) distances [n, m] between the n rows of ``vecs``
    ([n, d]) and the m query rows of ``qmat`` ([m, d] float64), computed on
    the host and bit-identical to the SQL folds (``cosine_distance_prenorm``,
    ``euclidean_distance``, ``dot_distance``).

    The terms accumulate per dimension, left to right, from 0.0: one
    vectorized add per dimension in index order, the IEEE-double sequence
    of ``aggregate(zip_with(...))``; NumPy elementwise ops carry no FMA and
    no reassociation. A column-major ``vecs`` makes each step a contiguous
    pass. COSINE divides the dot by ``row_norms[:, None] * qnorm[None, :]``
    (``norm2`` of each side) with the nullif/coalesce zero guard. With
    ``scale`` ([n]), ``vecs`` holds int8 codes and each element is
    dequantized inside the fold as ``(double(x) * scale / 127.0)``, the
    operations of ``ann.int8_distance`` in its order.

    Rows where ``valid`` is False (a NULL vector, another length than the
    query, or a NULL element) follow the SQL padding rules: ``zip_with``
    pads with NULL, so the dot is NULL, which COSINE's coalesce maps to
    distance 1.0 and the other metrics keep. Returns (distances, null):
    ``null`` [n] marks the rows whose distances are NULL (their entries in
    ``distances`` are NaN)."""
    import numpy as np

    n, m = vecs.shape[0], qmat.shape[0]
    acc = np.zeros((n, m), dtype=np.float64)
    euclid = metric == "EUCLIDEAN_DISTANCE"
    qcols = np.ascontiguousarray(qmat.T)  # row j: dimension j of every query
    scale = None if scale is None else scale[:, None]
    with np.errstate(over="ignore", invalid="ignore"):
        for j in range(qmat.shape[1]):
            vj = vecs[:, j : j + 1]
            if scale is not None:
                vj = vj * scale / 127.0
            if euclid:
                dj = vj - qcols[j]
                acc += dj * dj
            else:
                acc += vj * qcols[j]
        if euclid:
            dist = np.sqrt(acc)
        elif metric == "DOT_PRODUCT":
            dist = -1.0 * acc
        elif metric == "COSINE":
            denom = row_norms[:, None] * qnorm[None, :]
            with np.errstate(divide="ignore"):
                ratio = acc / denom
            dist = 1.0 - np.where(denom == 0.0, 0.0, ratio)
        else:
            raise ValueError(f"unknown metric {metric}")
    invalid = ~np.asarray(valid, dtype=bool)
    if metric == "COSINE":
        dist[invalid] = 1.0
        return dist, np.zeros(n, dtype=bool)
    dist[invalid] = np.nan
    return dist, invalid


def cosine_distance(a: str, b: str, dialect: str) -> str:
    """1 - cos(a,b): Oracle VECTOR_DISTANCE(..., COSINE) semantics
    (reference retrieval path chatbot.py:183-210 via OracleVS).

    The norm product is guarded with nullif + coalesce to 1.0: a zero
    vector anywhere in a store used to DIVIDE_BY_ZERO the whole scan under
    Spark's ANSI mode (and yield inf/nan elsewhere). With the guard, a
    zero vector's cosine distance is exactly 1.0 (dot = 0, denominator
    treated as 1) — the neutral 'orthogonal' distance — identically on
    both engines, so oracle parity is preserved row for row."""
    denom = f"nullif({norm2(a, dialect)} * {norm2(b, dialect)}, 0.0)"
    return f"(1.0 - coalesce({dot(a, b, dialect)} / {denom}, 0.0))"


def cosine_distance_prenorm(a: str, b: str, na: str, nb: str, dialect: str) -> str:
    """``cosine_distance`` with the two L2 norms already materialized as
    columns/expressions (``na``, ``nb``) — bit-identical arithmetic and the
    same nullif/coalesce zero-vector guard, but ONE dot-product fold per pair
    instead of dot + two norm folds. The batch pair-join lever (optimization
    guide §1.2 "per-task work"): norms are per-ROW quantities, so an O(n·m)
    pair relation recomputing them per PAIR does 3x the arithmetic of this
    factored form. Callers must compute ``na``/``nb`` with ``norm2`` over the
    identical array expression so the factored value is the same double."""
    denom = f"nullif({na} * {nb}, 0.0)"
    return f"(1.0 - coalesce({dot(a, b, dialect)} / {denom}, 0.0))"


def euclidean_distance(a: str, b: str, dialect: str) -> str:
    if dialect == "spark":
        return f"sqrt(aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), cast(0 as double), (s, x) -> s + x))"
    return f"sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip({a}, {b}), p -> (p[1] - p[2]) * (p[1] - p[2]))), (s, x) -> s + x))"


def l2sq(a: str, b: str, dialect: str) -> str:
    """Squared L2 distance (no sqrt) — sequential left-to-right fold on both
    engines so the float addition order is identical. The PQ/ADC building
    block: sub-distances add exactly, so SUM of per-subspace l2sq equals the
    full-vector l2sq when subvectors tile the vector."""
    if dialect == "spark":
        return f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), cast(0 as double), (s, x) -> s + x)"
    return f"list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip({a}, {b}), p -> (p[1] - p[2]) * (p[1] - p[2]))), (s, x) -> s + x)"


def subvec(arr: str, start_1based: str, n: int, dialect: str) -> str:
    """arr[start .. start+n-1] (1-based start may be an expression) — the
    product-quantization subspace slice."""
    if dialect == "spark":
        return f"slice({arr}, {start_1based}, {n})"
    return f"list_slice({arr}, {start_1based}, ({start_1based}) + {n - 1})"


def dot_distance(a: str, b: str, dialect: str) -> str:
    """Oracle DOT_PRODUCT distance = NEGATED inner product (larger dot product
    -> smaller distance). Parity noted in SURVEY.md §2.6."""
    return f"(-1.0 * {dot(a, b, dialect)})"


def mock_embed(e: str, dim: int, dialect: str) -> str:
    """Deterministic mock embedder (FIXTURES.md §3): dim doubles in [-1, 1],
    each derived from H(text ':' i). Same text => same vector on both engines.
    Replaces the reference's random 384-dim test embedder
    (tests/conftest.py:304-316) with a reproducible one."""
    if dialect == "spark":
        seeded = "concat(" + e + ", ':', i)"
        return (
            f"transform(sequence(0, {dim - 1}), "
            f"i -> cast({hash64(seeded, 'spark')} % 2000001 as double) / 1000000.0 - 1.0)"
        )
    seeded = "(" + e + " || ':' || i)"
    return (
        f"list_transform(generate_series(0, {dim - 1}), "
        f"i -> ({hash64(seeded, 'duck')} % 2000001)::DOUBLE / 1000000.0 - 1.0)"
    )


def absmax(a: str, dialect: str) -> str:
    """Infinity norm (max |x|) of a double array — the per-vector scale for
    int8 symmetric quantization. Floored at 1e-30 to keep x/scale finite."""
    if dialect == "spark":
        return f"greatest(aggregate({a}, cast(0 as double), (s, x) -> greatest(s, abs(x))), 1e-30)"
    return f"greatest(list_reduce(list_prepend(0.0::DOUBLE, list_transform({a}, x -> abs(x))), (s, x) -> greatest(s, x)), 1e-30)"


def quantize_int8(a: str, scale: str, dialect: str) -> str:
    """Symmetric int8 quantization: q_i = floor(x_i/scale*127 + 0.5) in
    [-127, 127] (as int64 elements — exact in both engines; floor(x+0.5) is
    engine-independent where round() half-way rules differ)."""
    if dialect == "spark":
        return f"transform({a}, x -> cast(floor(x / {scale} * 127.0 + 0.5) as bigint))"
    return f"list_transform({a}, x -> floor(x / {scale} * 127.0 + 0.5)::BIGINT)"


def int_dot(a: str, b: str, dialect: str) -> str:
    """Dot product of two small-int arrays accumulated in DOUBLE — exact for
    int8-quantized values (|products| <= 16129, sums << 2^53)."""
    return dot(a, b, dialect)


def tokens(e: str, dialect: str) -> str:
    """Whitespace tokens, empties removed (documents use single-space words)."""
    if dialect == "spark":
        return f"filter(split({e}, ' '), t -> t != '')"
    return f"list_filter(string_split({e}, ' '), t -> t != '')"


def array_slice_concat(arr: str, start_1based: str, n: int, dialect: str) -> str:
    """Join arr[start .. start+n-1] with spaces (word n-gram shingle text)."""
    if dialect == "spark":
        return f"array_join(slice({arr}, {start_1based}, {n}), ' ')"
    return f"array_to_string(({arr})[{start_1based}:({start_1based})+{n - 1}], ' ')"


def word_ngrams(e: str, n: int, dialect: str) -> str:
    """Array of word n-gram strings from a text expression."""
    toks = tokens(e, dialect)
    if dialect == "spark":
        return (
            f"CASE WHEN size({toks}) >= {n} THEN "
            f"transform(sequence(1, size({toks}) - {n - 1}), j -> {array_slice_concat(toks, 'j', n, 'spark')}) "
            # coalesce mirrors the duck branch: NULL text must yield ['']
            # on BOTH engines (array_join(NULL) is NULL on Spark)
            f"ELSE array(coalesce(array_join({toks}, ' '), '')) END"
        )
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(generate_series(1, len({toks}) - {n - 1}), j -> {array_slice_concat(toks, 'j', n, 'duck')}) "
        # COALESCE: DuckDB array_to_string of an EMPTY list is NULL where
        # Spark array_join gives '' — found by the cross-engine fuzz
        # (tests/test_portable_parity.py) on empty/whitespace-only text
        f"ELSE [COALESCE(array_to_string({toks}, ' '), '')] END"
    )


def shingle_hashes(e: str, ngram: int, dialect: str) -> str:
    """Array of portable shingle hashes (< MOD) for the word n-grams of e.
    Materialize this ONCE (subquery column) and feed minhash_from_hashes —
    the md5 then runs once per shingle instead of once per permutation."""
    sh = word_ngrams(e, ngram, dialect)
    h = hash_mod("s", dialect)
    if dialect == "spark":
        return f"transform({sh}, s -> {h})"
    return f"list_transform({sh}, s -> {h})"


def minhash_from_hashes(hs: str, num_perm: int, dialect: str) -> str:
    """MinHash signature (array of num_perm int64) from a precomputed
    shingle-hash array. Permutations are (a_i * h + b_i) % MOD with fixed
    literal constants derived from H('minhash:a:i') — identical literals on
    both sides, so the whole signature is engine-independent."""
    mins = []
    for i in range(num_perm):
        a, b = _perm_constants(i)
        if dialect == "spark":
            mins.append(f"array_min(transform({hs}, h -> ({a}L * h + {b}L) % {MOD}))")
        else:
            mins.append(f"list_min(list_transform({hs}, h -> ({a} * h + {b}) % {MOD}))")
    if dialect == "spark":
        return "array(" + ", ".join(mins) + ")"
    return "[" + ", ".join(mins) + "]"


def minhash_signature(e: str, num_perm: int, ngram: int, dialect: str) -> str:
    """Convenience wrapper: signature straight from a text expression. Prefer
    shingle_hashes + minhash_from_hashes with the hash array materialized in
    a subquery when the signature is referenced more than once."""
    return minhash_from_hashes(shingle_hashes(e, ngram, dialect), num_perm, dialect)


def _perm_constants(i: int) -> tuple[int, int]:
    """Fixed (a, b) for permutation i, generated from md5 so they're stable
    source-code-independent constants. a in [1, MOD-1], b in [0, MOD-1]."""
    import hashlib

    ha = int(hashlib.md5(f"minhash:a:{i}".encode()).hexdigest()[:15], 16)
    hb = int(hashlib.md5(f"minhash:b:{i}".encode()).hexdigest()[:15], 16)
    return (ha % (MOD - 1)) + 1, hb % MOD


def token_hashes(e: str, dialect: str) -> str:
    """Array of full 60-bit hashes of the whitespace tokens of e."""
    toks = tokens(e, dialect)
    th = hash64("t", dialect)
    if dialect == "spark":
        return f"transform({toks}, t -> {th})"
    return f"list_transform({toks}, t -> {th})"


def simhash_from_hashes(hs: str, bits: int, dialect: str) -> str:
    """SimHash fingerprint (int64, `bits` <= 60) from a precomputed
    token-hash array (term-frequency weighted): bit j set iff
    sum over tokens of (+1 if bit j of hash else -1) > 0.
    Materialize hs once — the bit loop references it `bits` times."""
    if dialect == "spark":
        bit_sum = (
            f"aggregate({hs}, 0, (acc, h) -> acc + CASE WHEN (h div cast(pow(2, j) as bigint)) % 2 = 1 THEN 1 ELSE -1 END)"
        )
        return (
            f"aggregate(transform(sequence(0, {bits - 1}), j -> "
            f"CASE WHEN {bit_sum} > 0 THEN cast(pow(2, j) as bigint) ELSE 0L END), "
            f"0L, (s, x) -> s + x)"
        )
    bit_sum = (
        f"list_reduce(list_prepend(0, list_transform({hs}, h -> CASE WHEN (h // (2**j)::BIGINT) % 2 = 1 THEN 1 ELSE -1 END)), (a, b) -> a + b)"
    )
    return (
        f"list_reduce(list_prepend(0::BIGINT, list_transform(generate_series(0, {bits - 1}), j -> "
        f"CASE WHEN {bit_sum} > 0 THEN (2**j)::BIGINT ELSE 0::BIGINT END)), (s, x) -> s + x)"
    )


def simhash(e: str, bits: int, dialect: str) -> str:
    """Convenience wrapper: simhash straight from a text expression. Prefer
    token_hashes + simhash_from_hashes with the hash array materialized."""
    return simhash_from_hashes(token_hashes(e, dialect), bits, dialect)


def hamming64(a: str, b: str, dialect: str) -> str:
    """Hamming distance between two int64 fingerprints."""
    if dialect == "spark":
        return f"bit_count({a} ^ {b})"
    return f"bit_count(xor({a}, {b}))"


def sql_str_literal(s: str, dialect: str = "spark") -> str:
    """A string as a safe single-quoted SQL literal. Spark's parser consumes
    backslash escapes inside literals (DuckDB's does not), so backslashes
    are doubled for Spark; quotes double on both. Interpolating user text
    without this is a ParseException at best and SQL-fragment injection at
    worst (same hazard catalog.register_table guards)."""
    body = s.replace("\\", "\\\\") if dialect == "spark" else s
    return "'" + body.replace("'", "''") + "'"


def normalize_text(e: str, dialect: str) -> str:
    """Lowercase, collapse whitespace, trim — document fingerprint normalizer."""
    if dialect == "spark":
        return f"trim(regexp_replace(lower({e}), '\\\\s+', ' '))"
    return f"trim(regexp_replace(lower({e}), '\\s+', ' ', 'g'))"


def stopword_hits(toks: str, words: list[str], dialect: str) -> str:
    """Count of tokens that are in the given stopword list."""
    lit = ", ".join(f"'{w}'" for w in words)
    if dialect == "spark":
        return f"size(filter({toks}, t -> t IN ({lit})))"
    return f"len(list_filter({toks}, t -> t IN ({lit})))"


def regexp_count_portable(e: str, pattern: str, dialect: str) -> str:
    """Count of non-overlapping regex matches (ASCII-safe patterns only).

    `pattern` is the RAW regex: Spark's string-literal parser consumes
    backslash escapes ('\\s' in a literal reaches the regex engine as 's'),
    DuckDB's does not — so backslashes are doubled for the Spark literal
    and passed through for DuckDB, keeping one pattern string portable."""
    if dialect == "spark":
        spark_pat = pattern.replace("\\", "\\\\")
        return f"size(regexp_extract_all({e}, '{spark_pat}', 0))"
    return f"len(regexp_extract_all({e}, '{pattern}'))"


def regexp_replace_all(e: str, pattern: str, repl: str, dialect: str) -> str:
    """Replace ALL regex matches. Spark's regexp_replace is global by
    default; DuckDB needs the explicit 'g' flag."""
    if dialect == "spark":
        return f"regexp_replace({e}, '{pattern}', '{repl}')"
    return f"regexp_replace({e}, '{pattern}', '{repl}', 'g')"


def list_len(e: str, dialect: str) -> str:
    """Element count of an array expression (size vs len)."""
    if dialect == "spark":
        return f"size({e})"
    return f"len({e})"


def list_min(e: str, dialect: str) -> str:
    """Minimum element of an array expression."""
    if dialect == "spark":
        return f"array_min({e})"
    return f"list_min({e})"


def list_distinct(e: str, dialect: str) -> str:
    """Distinct elements of an array expression."""
    if dialect == "spark":
        return f"array_distinct({e})"
    return f"list_distinct({e})"


def split_part1(e: str, dialect: str) -> str:
    """First space-separated word of a string expression (n-gram context)."""
    if dialect == "spark":
        return f"element_at(split({e}, ' '), 1)"
    return f"split_part({e}, ' ', 1)"


def split_part_last(e: str, n: int, dialect: str) -> str:
    """n-th (last, 1-based) space-separated word of a string expression."""
    if dialect == "spark":
        return f"element_at(split({e}, ' '), {n})"
    return f"split_part({e}, ' ', {n})"


def round6(e: str, dialect: str) -> str:
    """Round a double to 6 dp — used on every float output so hash-compare is
    immune to sub-1e-6 cross-engine float noise."""
    return f"round({e}, 6)"


def exact_sum(e: str, dialect: str, scale: int = 9) -> str:
    """ORDER-INDEPENDENT sum of a DOUBLE term: each per-row value is rounded
    to ``10^-scale`` units, accumulated as an exact BIGINT, and divided back
    once. Plain SUM/AVG over doubles is partial-merge-order dependent in
    Spark, and a result sitting on a round-6 output boundary flips its last
    digit across runs (the coreset_coverage_radius incident, r10 close;
    VERDICT r10 task #2 mandates this recipe for every large-N float
    aggregate). The scaled term must satisfy |e|*10^scale < 2^53 (so the
    double represents the integer exactly) and SUM |e|*10^scale < 2^63 per
    group (BIGINT capacity) — callers pick ``scale`` from the term's
    magnitude bound and the group cardinality; the default 9 handles |e|<=2
    over up to ~2e9 rows/group. Deterministic per-row rounding introduces at
    most 0.5*10^-scale per term (random-sign cancellation keeps the realized
    drift ~sqrt(N) smaller), far below the 1e-6 output rounding at the
    chosen scales. Quantization uses floor(x + 0.5), the file's
    engine-independent idiom (see quantize_int8: round() half-way rules
    can differ between engines, and a half-way disagreement on one term
    is exactly the 1-unit flip these helpers exist to eliminate).
    Identical SQL on both dialects, so the oracle agrees by
    construction. Overflow at a violated capacity bound THROWS under
    Spark's default ANSI mode rather than wrapping (DuckDB widens) — a
    loud failure, never silent divergence."""
    s = f"CAST(1e{scale} AS DOUBLE)"
    return f"(SUM(CAST(floor(({e}) * {s} + 0.5) AS BIGINT)) / {s})"


def exact_avg(e: str, dialect: str, scale: int = 9) -> str:
    """ORDER-INDEPENDENT mean of a DOUBLE term — `exact_sum` divided by the
    non-NULL term count (COUNT(e), matching AVG's NULL semantics). Same
    scale bounds as exact_sum."""
    s = f"CAST(1e{scale} AS DOUBLE)"
    return (
        f"(SUM(CAST(floor(({e}) * {s} + 0.5) AS BIGINT)) "
        f"/ (COUNT({e}) * {s}))"
    )


def sign_pack(arr: str, start_1based: int, n: int, dialect: str) -> str:
    """Pack the SIGNS of ``n`` consecutive elements (1-based ``start``) into
    one int64: bit j set iff arr[start+j] > 0. The binary-quantization
    primitive — a 32-dim float slice (128 B) becomes 8 bytes, and Hamming
    distance over the packed words approximates angular distance (n <= 60
    keeps every partial sum in int64)."""
    assert n <= 60
    if dialect == "spark":
        return (
            f"aggregate(transform(sequence(0, {n - 1}), j -> "
            f"CASE WHEN element_at({arr}, {start_1based} + j) > 0 "
            f"THEN cast(pow(2, j) as bigint) ELSE 0L END), 0L, (s, x) -> s + x)"
        )
    return (
        f"list_reduce(list_prepend(0::BIGINT, list_transform(generate_series(0, {n - 1}), j -> "
        f"CASE WHEN ({arr})[{start_1based} + j] > 0 "
        f"THEN (2**j)::BIGINT ELSE 0::BIGINT END)), (s, x) -> s + x)"
    )


def list_count_matching(arr: str, pattern: str, dialect: str) -> str:
    """Count of array elements matching a regex (element-level, not a scan
    over the joined text — counting matches over raw text counts RUNS, which
    overcounts words that mix classes; r10 review on the Gopher alpha
    rule)."""
    if dialect == "spark":
        spark_pat = pattern.replace("\\", "\\\\")
        return f"size(filter({arr}, t -> t RLIKE '{spark_pat}'))"
    return f"len(list_filter({arr}, t -> regexp_matches(t, '{pattern}')))"
