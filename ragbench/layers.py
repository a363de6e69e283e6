"""Per-layer metrics: which functions a traced run wraps, the metric names
(named after the engine module each layer lives in), and how each metric
is derived from the spans and the Spark jobs attributed to them."""

from __future__ import annotations

import os
import statistics

from ragbench.registry_mix import HEAVY, LIGHT
from ragbench.trace import jobs_by_span, self_times, subtree

UNITS: dict[str, str] = {
    # serving.http_api
    "http.overhead_ms": "ms", "http.non200": "count",
    # serving.chat
    "chat.rephrase_ms": "ms", "chat.retrieve_ms": "ms", "chat.grade_ms": "ms",
    "chat.generate_ms": "ms", "chat.history_msgs": "count",
    # operators.retrieval
    "retrieval.topk_ms": "ms", "retrieval.mmr_ms": "ms", "retrieval.jobs_per_request": "count",
    # operators.tier_guard
    "tier.prep_s": "s", "tier.topk_ms": "ms",
    # operators.testbed
    "testbed.generate_s": "s",
    # pipeline
    "ingest.split_s": "s", "ingest.dedup_s": "s", "ingest.embed_s": "s",
    "ingest.chunks": "count", "ingest.new": "count", "ingest.jobs": "count",
    # catalog
    "catalog.append_s": "s", "catalog.files": "count", "catalog.bytes_per_chunk": "B",
    # operators.ann
    "ivf.fit_s": "s", "ivf.write_s": "s", "ivf.max_over_mean": "ratio",
    # queries registry
    **{f"registry.{e}.{m}": u for e in HEAVY + LIGHT
       for m, u in (("build_ms", "ms"), ("collect_ms", "ms"))},
    **{f"registry.{e}.{m}": u for e in HEAVY for m, u in (("shuffle_mb", "MB"), ("jobs", "count"))},
    # session (Spark)
    "spark.jobs": "count", "spark.tasks": "count", "spark.shuffle_mb": "MB", "spark.gc_s": "s",
    "spark.peak_rss_mb": "MB",
    # the traced run itself: its own median, for the tracing overhead
    "trace.p50_ms": "ms", "trace.spans": "count",
}

# populate_vs's lazy stages, told apart by the call site of the DataFrame
# action that runs them (Spark records NativeMethodAccessorImpl for these)
INGEST_STAGES = {
    "split": ("pipeline.py:75",),
    "dedup": ("pipeline.py:79", "pipeline.py:80"),
    "embed": ("pipeline.py:107", "pipeline.py:108", "pipeline.py:109", "pipeline.py:110"),
}
ACTIONS = ("count", "collect", "localCheckpoint", "toPandas")


def instrument(tracer) -> None:
    """Wrap the engine's entry points that the workloads reach (NOTES.md)."""
    from oaim_sandbox_spark import pipeline
    from oaim_sandbox_spark.catalog import VectorStoreCatalog
    from oaim_sandbox_spark.operators import retrieval
    from oaim_sandbox_spark.operators.ann import IVFIndex
    from oaim_sandbox_spark.operators.tier_guard import TieredStore
    from oaim_sandbox_spark.serving.chat import ChatPipeline

    def tag_response(span, resp):
        span.attrs["resp_id"] = resp.id

    tracer.wrap(ChatPipeline, "chat", "chat.chat", on_result=tag_response)
    for phase in ("rephrase", "retrieve", "grade", "generate"):
        tracer.wrap(ChatPipeline, phase, f"chat.{phase}")
    tracer.wrap(retrieval, "similarity_topk", "retrieval.similarity_topk")
    tracer.wrap(retrieval, "mmr_rerank", "retrieval.mmr_rerank")
    tracer.wrap(TieredStore, "__init__", "tier.init")
    tracer.wrap(TieredStore, "topk", "tier.topk")
    tracer.wrap(pipeline, "populate_vs", "pipeline.populate_vs")
    tracer.wrap(VectorStoreCatalog, "write_store", "catalog.write_store")
    tracer.wrap(IVFIndex, "fit", "ivf.fit")
    tracer.wrap(IVFIndex, "write_partitioned", "ivf.write_partitioned")
    # the session's concrete frame class: it overrides these actions, so
    # wrapping pyspark.sql.DataFrame (its abstract parent) would wrap nothing
    frame = type(tracer.spark.range(0))
    for action in ACTIONS:
        tracer.wrap(frame, action, f"action.{action}", site=True)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _named(spans, name):
    return [s for s in spans if s.name == name]


def ingest_layers(spans, jobs, reports, store_path: str) -> dict:
    """pipeline and catalog metrics of the set-up ingest."""
    by_span = jobs_by_span(jobs)
    out = {}
    pops = _named(spans, "pipeline.populate_vs")
    stage_s = {k: 0.0 for k in INGEST_STAGES}
    n_jobs = 0
    for p in pops:
        for s in subtree(spans, p):
            n_jobs += len(by_span.get(s.sid, []))
            for stage, sites in INGEST_STAGES.items():
                if s.name.startswith("action.") and s.attrs.get("site") in sites:
                    stage_s[stage] += s.dur
    out.update({f"ingest.{k}_s": v for k, v in stage_s.items()})
    out["ingest.chunks"] = float(sum(r.n_chunks for r in reports))
    out["ingest.new"] = float(sum(r.n_new for r in reports))
    out["ingest.jobs"] = float(n_jobs)
    out["catalog.append_s"] = sum(s.dur for s in _named(spans, "catalog.write_store"))
    files = [os.path.join(store_path, f) for f in os.listdir(store_path) if f.endswith(".parquet")]
    out["catalog.files"] = float(len(files))
    n_rows = out["ingest.new"]
    out["catalog.bytes_per_chunk"] = sum(map(os.path.getsize, files)) / n_rows if n_rows else 0.0
    return out


def ivf_layers(spans, paths: list[str]) -> dict:
    """operators.ann: fit and partitioned-write time per IVF build, and the
    largest partition over the mean partition (by parquet bytes) of the
    layouts written under `paths`."""
    fits, writes = _named(spans, "ivf.fit"), _named(spans, "ivf.write_partitioned")
    skews = []
    for path in paths:
        sizes = [sum(os.path.getsize(os.path.join(path, d, f)) for f in os.listdir(os.path.join(path, d)))
                 for d in os.listdir(path) if os.path.isdir(os.path.join(path, d))]
        if sizes:
            skews.append(max(sizes) / statistics.mean(sizes))
    return {"ivf.fit_s": _mean(s.dur for s in fits), "ivf.write_s": _mean(s.dur for s in writes),
            "ivf.max_over_mean": _mean(skews)}


def chat_layers(spans, raw, jobs) -> dict:
    """serving.http_api, serving.chat, operators.retrieval and
    operators.tier_guard metrics over the requests of the timed window."""
    start = raw["start"]
    turns = [t for t in raw["turns"] if t["status"] == 200]
    chats = {s.attrs.get("resp_id"): s for s in _named(spans, "chat.chat") if s.start >= start}
    own = self_times(spans)
    by_span = jobs_by_span(jobs)
    overhead, phases, jobs_per = [], {p: [] for p in ("rephrase", "retrieve", "grade", "generate")}, []
    topk, mmr, tier_topk, chat_self = [], [], [], []
    for t in turns:
        sp = chats.get(t["body"]["id"])
        if sp is None:
            continue
        overhead.append(t["ms"] - sp.dur * 1e3)
        tree = subtree(spans, sp)
        for p in phases:  # a phase span covers the engine work below it
            phases[p].append(sum(s.dur for s in tree if s.name == f"chat.{p}") * 1e3)
        chat_self.append(own[sp.sid] * 1e3)
        ret = [s for s in tree if s.name == "chat.retrieve"]
        jobs_per.append(sum(len(by_span.get(s.sid, [])) for r in ret for s in subtree(spans, r)))
        topk += [s.dur * 1e3 for s in tree if s.name == "retrieval.similarity_topk"]
        mmr += [s.dur * 1e3 for s in tree if s.name == "retrieval.mmr_rerank"]
        tier_topk += [s.dur * 1e3 for s in tree if s.name == "tier.topk"]
    out = {
        "http.overhead_ms": _mean(overhead),
        "http.non200": float(len(raw["turns"]) - len(turns)),
        **{f"chat.{p}_ms": _mean(v) for p, v in phases.items()},
        "chat.history_msgs": _mean(len(t["history"]) for t in turns),
        "retrieval.topk_ms": _mean(topk),
        "retrieval.mmr_ms": _mean(mmr),
        "retrieval.jobs_per_request": _mean(jobs_per),
        "tier.topk_ms": _mean(tier_topk),
        "trace.spans": float(len(spans)),
        "tier.prep_s": sum(s.dur for s in _named(spans, "tier.init")),
        "testbed.generate_s": sum(s.dur for s in _named(spans, "testbed.question_pool")),
    }
    out.update(ingest_layers(spans, jobs, raw["reports"], raw["store_path"]))
    # the accounting NOTES.md describes: phases + the chat span's own time +
    # HTTP overhead make up a request's round trip
    out["_accounting"] = {
        "round_trip_mean_ms": _mean(t["ms"] for t in turns),
        "phases_ms": {p: _mean(v) for p, v in phases.items()},
        "chat_self_ms": _mean(chat_self),
        "http_overhead_ms": _mean(overhead),
    }
    return out
