"""registry_mix: fixed registry entries through queries.spark_queries().

Set-up writes the seeded tables and runs every entry once, so code
generation and Python worker start-up are paid there. The timed window
then runs passes until the time is up; a pass runs each heavy entry once
and each light entry LIGHT_REPEAT times, in a seeded order, and a pass
that has started finishes. One operation is one light entry run: the
runner building its DataFrame, then collect(). The light set's figure is
one pass at each light entry's median run, so every entry moves it; the
heavy set's is its wall time per pass. The heavy set is the
all-pairs exact k-NN templates plus an event sweep-line, bound by shuffle
and sort; the light set is top-k retrieval templates, bound by planning
and job launch. After the window each entry's rows are compared,
order-insensitively, with its DuckDB oracle_sql() result."""

from __future__ import annotations

import decimal
import os
import statistics
import time

import numpy as np

from ragbench import data

HEAVY = ["knn_hubness_histogram", "knn_label_consensus", "session_concurrency_sweepline"]
LIGHT = [
    "topk_cosine", "topk_score_threshold", "rag_topk_mock_query", "filtered_topk_label",
    "bm25_topk", "ivf_ann_topk", "knn_join_batch",
]
LIGHT_REPEAT = 3  # light entries run this many times a pass: a median of 3 drops one slow run
# table sizes: the sf0.01 layout (documents, events, users), with 300
# embeddings rather than 500: the DuckDB oracles of the all-pairs entries
# grow with the square, and took 3.5 s of every run at 500
SIZES = dict(n_docs=500, n_vecs=300, n_events=10_000, n_users=150)
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
# the entries round floats to 6 places, and the engines round an exact
# half differently (NOTES.md, product gaps): a float may differ from the
# oracle's by one unit in the 6th place, plus binary slack
FLOAT_TOL = 1.5e-6


def cell(v) -> str:
    """Type-tagged canonical cell: integer widths merge, float keeps repr,
    DECIMAL keeps its scale."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, float):
        return "f:nan" if v != v else f"f:{v!r}"
    if isinstance(v, int):
        return f"i:{v}"
    return f"s:{v}"


def canonical(cols: list[str], rows) -> list[tuple]:
    """A result as rows with columns in lower-cased name order, sorted by
    their non-float cells, then their floats."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = [tuple(r[i] for i in order) for r in rows]

    def key(row):
        floats = tuple(float("inf") if v != v else v for v in row if isinstance(v, float))
        return tuple("" if isinstance(v, float) else cell(v) for v in row), floats

    return sorted(out, key=key)


def compare(got_cols: list[str], got, want_cols: list[str], want) -> str | None:
    """'exact' when two results hold the same rows in any order, 'close'
    when they differ only in floats by at most FLOAT_TOL, else None."""
    a, b = canonical(got_cols, got), canonical(want_cols, want)
    if sorted(c.lower() for c in got_cols) != sorted(c.lower() for c in want_cols) or len(a) != len(b):
        return None
    close = False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if cell(x) == cell(y):
                continue
            if not (isinstance(x, float) and isinstance(y, float) and abs(x - y) <= FLOAT_TOL):
                return None
            close = True
    return "close" if close else "exact"


def run_entry(tracer, runner, label: str, spark, sf_dir: str):
    """(build_ms, collect_ms, columns, rows) of one entry."""
    t = time.perf_counter()
    with tracer.span(f"registry.{label}.build"):
        df = runner(spark, sf_dir)
    b = time.perf_counter()
    with tracer.span(f"registry.{label}.collect"):
        rows = df.collect()
    c = time.perf_counter()
    return (b - t) * 1e3, (c - b) * 1e3, df.columns, rows


def run(ctx, t0: float):
    from oaim_sandbox_spark import queries as Q
    from ragbench import layers

    spark, rng = ctx.spark, np.random.default_rng([ctx.seed, 30])
    layers.instrument(ctx.tracer)
    runners = Q.spark_queries()
    sf_dir = data.write_tables(os.path.join(ctx.work, "tables"), ctx.seed, **SIZES)
    for n in HEAVY + LIGHT:  # code generation and Python workers warm up here
        run_entry(ctx.tracer, runners[n], f"warmup.{n}", spark, sf_dir)
    setup_s = time.perf_counter() - t0

    order = HEAVY + LIGHT * LIGHT_REPEAT
    samples: dict[str, list[tuple[float, float]]] = {n: [] for n in HEAVY + LIGHT}
    last: dict[str, tuple] = {}
    heavy_ms: list[float] = []
    start = time.perf_counter()
    while not heavy_ms or time.perf_counter() < start + ctx.seconds:
        h = 0.0
        for i in rng.permutation(len(order)):
            n = order[i]
            b, c, cols, rows = run_entry(ctx.tracer, runners[n], n, spark, sf_dir)
            samples[n].append((b, c))
            last[n] = (cols, rows)
            h += b + c if n in HEAVY else 0.0
        heavy_ms.append(h)
    window = time.perf_counter() - start

    checks = check(sf_dir, last)
    runs = sum(len(v) for v in samples.values())
    from ragbench.run import Result

    return Result(
        op_ms=[b + c for n in LIGHT for b, c in samples[n]],
        latency=(light_p50_ms(samples), statistics.median(heavy_ms),
                 "heavy set per pass (registry_heavy_s)"),
        work_units=float(runs),
        window_s=window,
        attempted=runs,
        failed=sum(not ok for _n, ok, _d in checks),
        checks=checks,
        setup_s=setup_s,
        detail={
            "p50_ms": f"sum of the {len(LIGHT)} light entries' median runs "
                      "(registry_light_p50_ms)",
            "tail_ms": "median over passes of the heavy set's wall time (registry_heavy_s)",
            "work_per_s": "entry runs, heavy and light, per second",
            "passes": len(heavy_ms),
        },
        raw={"samples": samples},
    )


def light_p50_ms(samples: dict[str, list[tuple[float, float]]]) -> float:
    """One pass over the light set at each entry's median: the sum over
    light entries of their median build plus collect time."""
    return sum(statistics.median(b + c for b, c in samples[n]) for n in LIGHT)


def check(sf_dir: str, last: dict) -> list[tuple[str, bool, str]]:
    """Oracle-backed entries: the same rows as DuckDB's, in any order, floats
    within FLOAT_TOL. ivf_ann_topk, which has no oracle (its fitted
    centroids are Spark's own): NumPy distances."""
    import duckdb

    from oaim_sandbox_spark import queries as Q

    oracles = Q.oracle_sqls()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad, close = [], []
    for name, (cols, rows) in last.items():
        if name in oracles:
            rel = con.sql(oracles[name])
            how = compare(cols, rows, rel.columns, rel.fetchall())
        else:
            how = "exact" if name == "ivf_ann_topk" and ivf_rows_ok(sf_dir, cols, rows) else None
        if how is None:
            bad.append(name)
        elif how == "close":
            close.append(name)
    con.close()
    return [("registry_vs_oracle", not bad,
             f"{len(last) - len(bad)}/{len(last)} match ({len(last) - 1} DuckDB oracle, "
             f"ivf_ann_topk by NumPy)"
             + (f"; floats within {FLOAT_TOL:g}: {', '.join(close)}" if close else "")
             + (f"; differ: {', '.join(bad)}" if bad else ""))]


def ivf_rows_ok(sf_dir: str, cols: list[str], rows) -> bool:
    """ivf_ann_topk probes the IVF store for vector 0's 5 nearest by cosine
    distance: 5 distinct ids, in distance order, each distance within 2e-6
    of NumPy's (the entry rounds to 6 places)."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"])
    x = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)
    ids = t.column("vec_id").to_numpy()
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    exact = dict(zip(ids.tolist(), 1.0 - x @ x[ids.tolist().index(0)]))
    got = [(int(r[cols.index("vec_id")]), float(r[cols.index("distance")])) for r in rows]
    return (len(got) == 5 and len({i for i, _ in got}) == 5
            and all(a[1] <= b[1] for a, b in zip(got, got[1:]))
            and all(abs(d - exact[i]) <= 2e-6 for i, d in got))


def layer_metrics(ctx, res, jobs) -> dict:
    from ragbench import layers
    from ragbench.trace import jobs_by_span, subtree

    by_span = jobs_by_span(jobs)
    spans = ctx.tracer.spans
    samples = res.raw["samples"]
    out = {}
    for n, xs in samples.items():
        out[f"registry.{n}.build_ms"] = statistics.median(b for b, _ in xs)
        out[f"registry.{n}.collect_ms"] = statistics.median(c for _, c in xs)
    for n in HEAVY:
        runs = [s for s in spans if s.name in (f"registry.{n}.build", f"registry.{n}.collect")]
        own = [j for r in runs for s in subtree(spans, r) for j in by_span.get(s.sid, [])]
        out[f"registry.{n}.shuffle_mb"] = sum(j.shuffle_bytes for j in own) / 1e6 / len(samples[n])
        out[f"registry.{n}.jobs"] = len(own) / len(samples[n])
    tmp = os.path.join(ctx.work, "tmp")
    out.update(layers.ivf_layers(
        spans, [os.path.join(tmp, d) for d in os.listdir(tmp) if d.startswith("ivf_store_")]))
    out["trace.p50_ms"] = light_p50_ms(samples)
    out["trace.spans"] = float(len(spans))
    return out
