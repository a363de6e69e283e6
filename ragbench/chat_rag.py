"""chat_rag: closed-loop RAG chat over HTTP.

Set-up ingests the corpus through populate_vs into a fresh catalog, draws
a question pool from the store with generate_testset, serves the store
through a ChatPipeline behind an in-process ApiServer, and warms every
search setting once. Then CLIENTS threads, each on one keep-alive
connection, hold TURNS-turn conversations under fresh client ids; each
conversation first sets one of four search settings through POST/PATCH
/v1/settings, in a seeded rotation that the clients share out: every
ROUND conversations of each client together cover each setting once. A
client stops at the first round boundary after the time is up, so every
run has the same mix. One operation is one chat request.
"""

from __future__ import annotations

import http.client
import json
import os
import threading
import time
import traceback

import numpy as np

from oaim_sandbox_spark.serving.chat import ChatPipeline
from ragbench import data, layers
from ragbench.store import Reference, build_store, same_topk

N_DOCS = 5000
CLIENTS = 2
ROUND = 2  # conversations per client in which the clients cover the 4 settings
TURNS = 4
TOP_K = 4
THRESHOLD = 0.55
API_KEY = "ragbench-key"
SETTINGS = {
    "similarity": {"search_type": "Similarity", "top_k": TOP_K, "search_tier": None},
    "threshold": {"search_type": "Similarity Score Threshold", "top_k": TOP_K,
                  "score_threshold": THRESHOLD, "search_tier": None},
    "mmr": {"search_type": "Maximal Marginal Relevance", "top_k": TOP_K,
            "fetch_k": 20, "lambda_mult": 0.5, "search_tier": None},
    "int8": {"search_type": "Similarity", "top_k": TOP_K, "search_tier": "int8"},
}
N_QUESTIONS = 200
# int8 recall@TOP_K that the int8 questions must reach on average: at most
# one neighbour in k lost. Every run of the first baseline read 1.0; a
# tier that loses most neighbours falls far below it
INT8_RECALL_FLOOR = 0.75


class RecordingPipeline(ChatPipeline):
    """ChatPipeline that keeps the rows each retrieve served, by question
    and search setting, so the output checks read what the timed window
    served instead of searching again."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.served: dict[tuple, list] = {}

    def retrieve(self, question, s=None):
        rows = super().retrieve(question, s)
        s = s or self.settings
        self.served[(question, s.search_type, s.search_tier)] = rows
        return rows


class QueryEmbedder:
    """Embeds one query string with the Python twin of the engine's mock
    document embedder, so queries and stored chunks share one space."""

    def __init__(self):
        from oaim_sandbox_spark.operators.embed import DeterministicProvider

        self.provider = DeterministicProvider(64)

    def __call__(self, text: str) -> list[float]:
        return self.provider.embed_documents([text])[0]


def conversations(seed: int, client: int, pool: list[str]):
    """Endless seeded conversation plan for one client thread: (client id,
    setting name, questions drawn from the generated question pool).
    Settings rotate from a seeded offset; client k starts ROUND settings
    further on, so the clients' first ROUND conversations hold different
    settings and together cover all of them."""
    rng = np.random.default_rng([seed, 10, client])
    names = list(SETTINGS)
    off = int(np.random.default_rng([seed, 10]).integers(0, len(names)))
    n = 0
    while True:
        qs = [pool[i] for i in rng.integers(0, len(pool), size=TURNS)]
        yield f"bench-{seed}-{client}-{n}", names[(off + ROUND * client + n) % len(names)], qs
        n += 1


class Client:
    """One keep-alive connection to the API server."""

    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)

    def call(self, method: str, path: str, body=None, client: str | None = None):
        headers = {"Authorization": f"Bearer {API_KEY}", "Content-Type": "application/json"}
        if client:
            headers["client"] = client
        # no body at all when there is none: POST /v1/settings does not read
        # one, and unread bytes would corrupt the next request on this
        # keep-alive connection (NOTES.md)
        payload = None if body is None else json.dumps(body)
        self.conn.request(method, path, body=payload, headers=headers)
        resp = self.conn.getresponse()
        return resp.status, json.loads(resp.read() or b"null")

    def close(self) -> None:
        self.conn.close()


def converse(cl: Client, cid: str, setting: str, qs: list[str], turns: list,
             failures: list) -> None:
    """Set one conversation's search setting, then ask its questions in
    order."""
    for method in ("POST", "PATCH"):
        status, _ = cl.call(method, f"/v1/settings?client={cid}",
                            SETTINGS[setting] if method == "PATCH" else None)
        if status != 200:
            failures.append((method, cid, status))
            return
    history: list[str] = []
    for i, q in enumerate(qs):
        t = time.perf_counter()
        status, body = cl.call("POST", "/v1/chat/completions", {"message": q}, client=cid)
        ms = (time.perf_counter() - t) * 1e3
        turns.append({"cid": cid, "setting": setting, "turn": i, "q": q, "first_q": qs[0],
                      "history": list(history), "status": status, "ms": ms,
                      "end": time.perf_counter(), "body": body})
        if status != 200:
            return
        history += [q, body["choices"][0]["message"]["content"]]


def run(ctx, t0: float):
    from oaim_sandbox_spark.operators import testbed
    from oaim_sandbox_spark.serving.chat import MockLLM, RagSettings
    from oaim_sandbox_spark.serving.http_api import ApiServer

    spark = ctx.spark
    layers.instrument(ctx.tracer)
    docs = data.documents(ctx.seed, N_DOCS)
    store, report, catalog, name = build_store(spark, docs, os.path.join(ctx.work, "catalog"))
    with ctx.tracer.span("testbed.question_pool"):
        pool = [r["question"] for r in testbed.generate_testset(
            store, n_questions=N_QUESTIONS, question_types=("simple", "complex")).collect()]
    pipe = RecordingPipeline(store, QueryEmbedder(), MockLLM(), RagSettings(),
                             tier_gate=lambda tier: {"operating_point": None})
    server = ApiServer(pipe, api_key=API_KEY, spark=spark, catalog=catalog,
                       staging_root=os.path.join(ctx.work, "staging")).start()
    try:
        cl = Client(server.port)
        for n, s in enumerate(SETTINGS):  # warm every path, tier prep included
            converse(cl, f"warm-{n}", s, [pool[n]], [], [])
        cl.close()
        setup_s = time.perf_counter() - t0
        ref = Reference(store)

        turns: list = []
        failures: list = []
        lock = threading.Lock()
        start = time.perf_counter()
        deadline = start + ctx.seconds

        def loop(k: int) -> None:
            mine, bad = [], []
            c = Client(server.port)
            try:
                # whole rounds only, so every run has the same mix
                for n, (cid, s, qs) in enumerate(conversations(ctx.seed, k, pool)):
                    if n and n % ROUND == 0 and time.perf_counter() >= deadline:
                        break
                    converse(c, cid, s, qs, mine, bad)
            except Exception as ex:  # noqa: BLE001 - a dead client is a failure
                traceback.print_exc()
                bad.append(("client", k, repr(ex)))
            finally:
                c.close()
                with lock:
                    turns.extend(mine)
                    failures.extend(bad)

        threads = [threading.Thread(target=loop, args=(k,)) for k in range(CLIENTS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        window = max(t["end"] for t in turns) - start
        checks = check(pipe, ref, turns)
    finally:
        server.stop()
    n_conv = len({t["cid"] for t in turns})
    non200 = sum(t["status"] != 200 for t in turns)
    failed_checks = sum(not ok for _n, ok, _d in checks)
    from ragbench.run import Result, quantile, tail_q

    per_setting = {s: sum(t["setting"] == s for t in turns) for s in SETTINGS}
    setting_p50 = {s: float(np.median([t["ms"] for t in turns if t["setting"] == s] or [0]))
                   for s in SETTINGS}
    op_ms = [t["ms"] for t in turns]
    tq = tail_q(len(op_ms))
    return Result(
        op_ms=op_ms,
        # the settings' costs differ by up to 2.5x, so a median over all
        # requests falls in the gap between two settings' clusters; the
        # mean of per-setting medians moves with every setting
        latency=(float(np.mean(list(setting_p50.values()))), quantile(op_ms, tq),
                 f"p{100 * tq:.1f}"),
        work_units=float(len(turns)),
        window_s=window,
        attempted=len(turns) + 2 * n_conv,
        failed=non200 + len(failures) + failed_checks,
        checks=checks,
        setup_s=setup_s,
        detail={
            "chat_p50_ms / chat_tail_ms / chat_rps": "= p50_ms / tail_ms / work_per_s",
            "p50_ms": "mean over the 4 settings of their median request",
            "requests_by_setting": per_setting,
            "p50_ms_by_setting": {s: round(v, 1) for s, v in setting_p50.items()},
            "ingest_report": report.__dict__,
        },
        raw={"turns": turns, "reports": [report], "store_path": catalog._store_path(name),
             "start": start},
    )


def served(pipe, q: str, setting: str) -> list[tuple[int, float]]:
    """(id, distance) rows the timed window's retrieve served for q."""
    d = SETTINGS[setting]
    rows = pipe.served[(q, d["search_type"], d["search_tier"])]
    return [(int(r["id"]), float(r["distance"])) for r in rows]


def check(pipe, ref: Reference, turns):
    """Outside the timed window: compare the ids every exact-search
    conversation was served with a NumPy top-k and recompute each of its
    turns' prompt token counts; hold the int8 conversations' mean recall to
    INT8_RECALL_FLOOR. The seeded conversation plan chooses the questions.
    MockLLM's rephrase returns a conversation's first question, so that is
    what every turn of it retrieved for."""
    ok200 = [t for t in turns if t["status"] == 200]
    exact = [t for t in ok200 if t["setting"] in ("similarity", "threshold")]
    bad_ids, bad_tokens, want = set(), [], {}
    for t in exact:
        key = (t["first_q"], t["setting"])
        if key not in want:
            thr = THRESHOLD if t["setting"] == "threshold" else None
            want[key] = ref.topk(pipe.embed_query(t["first_q"]), TOP_K, thr)
            if not same_topk(served(pipe, *key), want[key]):
                bad_ids.add(key)
        if t["body"]["usage"]["prompt_tokens"] != expected_prompt_tokens(
                t, [ref.texts[i] for i, _ in want[key]]):
            bad_tokens.append(t["cid"])
    int8_qs = sorted({t["first_q"] for t in ok200 if t["setting"] == "int8"})
    got = [len({i for i, _ in ref.topk(pipe.embed_query(q), TOP_K)}
               & {i for i, _ in served(pipe, q, "int8")}) / TOP_K for q in int8_qs]
    mean = float(np.mean(got)) if got else 0.0
    n, m = len(want), len(exact)
    return [
        ("http_200", len(ok200) == len(turns), f"{len(ok200)}/{len(turns)}"),
        ("exact_ids_vs_numpy", n > 0 and not bad_ids, f"{n - len(bad_ids)}/{n} questions"),
        ("prompt_tokens", m > 0 and not bad_tokens, f"{m - len(bad_tokens)}/{m} turns"),
        ("int8_recall_floor", bool(got) and mean >= INT8_RECALL_FLOOR,
         f"recall@{TOP_K} {mean:.3f} over {len(got)} questions, floor {INT8_RECALL_FLOOR}"),
    ]


def expected_prompt_tokens(turn: dict, doc_texts: list[str]) -> int:
    """ChatPipeline's usage count, recomputed: every history message and the
    question, plus the retrieved texts when the relevance grade says yes
    (MockLLM grades yes when a question word longer than three letters
    occurs in the context)."""
    def tok(s: str) -> int:
        return max(1, len(s.split()))

    n = sum(tok(m) for m in turn["history"]) + tok(turn["q"])
    ctx = ("\n\n".join(doc_texts)).lower()
    words = [w for w in turn["first_q"].lower().split() if len(w) > 3]
    if doc_texts and any(w in ctx for w in words):
        n += sum(tok(d) for d in doc_texts)
    return n


def layer_metrics(ctx, res, jobs) -> dict:
    out = layers.chat_layers(ctx.tracer.spans, res.raw, jobs)
    out["trace.p50_ms"] = res.latency[0]  # the traced run's own p50_ms
    # set-up ran populate_vs, so its split, dedup and embed actions must
    # have been traced
    staged = sum(out[f"ingest.{k}_s"] for k in layers.INGEST_STAGES)
    res.checks.append(("ingest_stages_traced", staged > 0, f"split+dedup+embed {staged:.3f} s"))
    res.failed += int(staged <= 0)
    return out
