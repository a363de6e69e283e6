"""Compute chosen CTEs of a SQL statement once.

Spark inlines every CTE reference: a CTE read by k consumers plans and runs
its subtree k times (checked on Spark 4.1: no ReusedExchange). DuckDB
computes a multiply-referenced CTE once, which is why the shared
dual-dialect templates are written with multi-consumer WITH clauses.
``run_sql_materialized`` is the one mechanism that restores single
evaluation on Spark, for every registry template:

- names in ``once`` (a template's ``COMPUTE_ONCE`` declaration in
  queries_registry) are always computed once, at any size;
- any other CTE is computed once only when it is referenced at least twice,
  scans a base table (directly or through an inlined upstream CTE), has a
  deterministic body, and its scanned input is at least
  ``spark.oaim.cte.minInputBytes`` (default 1 GiB). At the test SFs the
  recomputed subtrees cost less than the extra jobs, so this rule only
  fires on a corpus that matters.

A computed CTE runs through materialize.materialize_relation
(size-thresholded localCheckpoint or durable parquet staging) and is
registered as a temp view under a unique name ``<cte>_<uuid12>``. Its
definition in the statement becomes ``<cte> AS (SELECT * FROM <view>)``, so
no other SQL text is rewritten, and a user view that shares the CTE's name
is never touched. The views are dropped once the final statement is
analyzed; the returned plan keeps the resolved relations. Rows are
identical: the same deterministic subtree feeds every consumer.

The parser handles the shape the templates generate: one top-level
``WITH n1 AS (...), n2 AS (...) <final select>`` with nested parens,
quoted literals and identifiers, and ``--`` comments inside bodies. A
statement it cannot parse runs as plain ``spark.sql``; one whose ``once``
names it cannot find raises, so a renamed CTE cannot silently turn back
into a re-run.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

# fires only at corpus scale; override (spark.conf) for tests/production
MIN_INPUT_BYTES_CONF = "spark.oaim.cte.minInputBytes"
MIN_INPUT_BYTES_DEFAULT = 1 << 30

# materialization is only worth a job when the CTE's subtree does corpus
# work: it must scan one of the registered base tables directly
_BASE_TABLES = (
    "documents", "events", "lineitem", "orders", "embeddings",
    "customer", "part", "supplier", "nation", "region",
)
_WITH_RE = re.compile(r"^\s*WITH\s", re.IGNORECASE)
_NAME_AS_RE = re.compile(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s+AS\s*\(", re.IGNORECASE)

# nondeterminism guard (VERDICT r13 #6): a nondeterministic CTE referenced k
# times computes k INDEPENDENT samples when inlined but ONE shared sample
# when materialized — never materialize such a body. (All current templates
# are hash-deterministic by repo convention, and DuckDB materializes CTEs
# natively so the oracle already has single-evaluation semantics; the guard
# makes the rewriter safe by construction for future templates.)
_NONDET_RE = re.compile(
    r"\b(rand|randn|random|uuid|shuffle|monotonically_increasing_id|now|"
    r"current_timestamp|current_date|unix_timestamp)\s*\(",
    re.IGNORECASE,
)


def split_with_clause(sql: str):
    """Parse `WITH a AS (...), b AS (...) <final>` into ([(name, body)...],
    final_sql). Returns None when the statement has no top-level WITH or the
    shape is anything unexpected (nested WITH at top level, quoting the
    scanner can't track, ...) — callers fall back to plain execution. The
    body scanner tracks single-quoted literals, double-quoted identifiers,
    and `--` line comments (ADVICE r13: an unbalanced paren/quote inside a
    comment or quoted identifier must not mis-split the statement)."""
    m = _WITH_RE.match(sql)
    if not m:
        return None
    pos = m.end()
    ctes: list[tuple[str, str]] = []
    while True:
        nm = _NAME_AS_RE.match(sql, pos)
        if not nm:
            return None
        name = nm.group(1)
        i = nm.end()  # just past the opening paren
        depth = 1
        in_str = False  # inside '...'
        in_dq = False  # inside "..."
        while i < len(sql) and depth:
            ch = sql[i]
            if in_str:
                if ch == "'":
                    # '' is an escaped quote inside a literal
                    if i + 1 < len(sql) and sql[i + 1] == "'":
                        i += 1
                    else:
                        in_str = False
            elif in_dq:
                if ch == '"':
                    if i + 1 < len(sql) and sql[i + 1] == '"':
                        i += 1
                    else:
                        in_dq = False
            elif ch == "-" and i + 1 < len(sql) and sql[i + 1] == "-":
                # line comment: skip to end of line (or end of text)
                nl = sql.find("\n", i)
                i = (nl if nl != -1 else len(sql) - 1)
            elif ch == "'":
                in_str = True
            elif ch == '"':
                in_dq = True
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            i += 1
        if depth:
            return None
        ctes.append((name, sql[nm.end() : i - 1]))
        # after the closing paren: either `, next AS (` or the final body
        rest = sql[i:]
        comma = re.match(r"\s*,", rest)
        if comma:
            pos = i + comma.end()
            continue
        return ctes, rest


def _ref_pat(name: str) -> re.Pattern:
    """References to a CTE in relation position: FROM/JOIN, or a comma-join
    list item (`FROM a, name`). The comma alternative can over-match (a
    SELECT-list column sharing the CTE's name), which only ever OVER-counts —
    worst case a single-reference CTE is materialized once, same rows, one
    extra bounded job; an under-count would silently skip the optimization.
    A following `(` is excluded so function calls never count."""
    return re.compile(
        rf"(?:\bFROM|\bJOIN|,)\s*{re.escape(name)}\b(?!\s*\()", re.IGNORECASE
    )


def _ref_count(name: str, texts: list[str]) -> int:
    pat = _ref_pat(name)
    return sum(len(pat.findall(t)) for t in texts)


def _table_size_bytes(spark: SparkSession, table: str) -> int:
    """Catalyst size estimate of a registered base view, cached per session.
    A failed lookup counts 0 — the conservative direction (no materialization
    job the local bench would have to pay)."""
    cache = getattr(spark, "_oaim_cte_sizes", None)
    if cache is None:
        cache = {}
        spark._oaim_cte_sizes = cache
    if table not in cache:
        try:
            jdf = spark.table(table)._jdf
            cache[table] = int(jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        except Exception:
            cache[table] = 0
    return cache[table]


def run_sql_materialized(
    spark: SparkSession, sql: str, once: tuple[str, ...] = ()
) -> DataFrame:
    """``spark.sql`` with the CTEs named in ``once``, and the corpus-sized
    multi-referenced ones, computed once (see the module docstring).
    Raises ValueError when a ``once`` name is not a top-level CTE of
    ``sql``."""
    parsed = split_with_clause(sql)
    missing = sorted(set(once) - {n for n, _ in parsed[0]}) if parsed else sorted(once)
    if missing:
        raise ValueError(f"compute-once CTEs not in the statement's WITH clause: {missing}")
    if not parsed:
        return spark.sql(sql)
    try:
        floor = int(spark.conf.get(MIN_INPUT_BYTES_CONF, str(MIN_INPUT_BYTES_DEFAULT)))
    except ValueError:
        floor = MIN_INPUT_BYTES_DEFAULT
    ctes, final = parsed
    later_texts = {  # texts in which references to CTE i count
        n: [b2 for n2, b2 in ctes[i + 1 :]] + [final]
        for i, (n, b) in enumerate(ctes)
    }
    # a CTE "does corpus work" if its body scans a base table, or references
    # a corpus-working CTE that was NOT materialized (its work is inlined)
    corpus_work: dict[str, bool] = {}
    input_bytes: dict[str, int] = {}
    materialized: set[str] = set()
    defs: list[str] = []
    from oaim_sandbox_spark.materialize import materialize_relation, scope

    # the scope owns the views only: the returned plan reads the relations
    with scope(spark) as s:
        for name, body in ctes:
            scanned = [t for t in _BASE_TABLES if _ref_pat(t).search(body)]
            upstream = [
                n2 for n2, _ in ctes
                if corpus_work.get(n2, False) and n2 not in materialized
                and _ref_pat(n2).search(body)
            ]
            corpus_work[name] = bool(scanned or upstream)
            # input mass: direct base scans + upstream corpus CTEs still
            # inlined into this body
            input_bytes[name] = sum(_table_size_bytes(spark, t) for t in scanned) + sum(
                input_bytes[n2] for n2 in upstream
            )
            if name in once or (
                corpus_work[name]
                and input_bytes[name] >= floor
                and _ref_count(name, later_texts[name]) >= 2
                and name not in _BASE_TABLES
                and not _NONDET_RE.search(body)
            ):
                # compute the body once over the definitions so far (earlier
                # materialized CTEs already read their views)
                prefix = f"WITH {', '.join(defs)}\n" if defs else ""
                rel = materialize_relation(spark.sql(prefix + body), f"cte_{name}")
                view = s.view(rel, name)
                materialized.add(name)
                defs.append(f"{name} AS (SELECT * FROM {view})")
            else:
                defs.append(f"{name} AS ({body})")
        if not materialized:
            # nothing was materialized: run the ORIGINAL statement text, not
            # a reconstruction, so the default path never depends on the
            # scanner's round-trip fidelity
            return spark.sql(sql)
        return spark.sql(f"WITH {', '.join(defs)}\n" + final)
