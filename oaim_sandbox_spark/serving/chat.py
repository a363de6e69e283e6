"""RAG chat pipeline (SURVEY §3.1) — the reference's LangGraph state machine
(chatbot.py:347-372) re-expressed as plain composable functions over the
Spark-backed vector store:

    clean history (T5) -> use_rag? -> [rephrase -> retrieve -> grade] ->
    generate -> OpenAI-compatible respond

LLM calls are isolated behind ``LLMClient`` so every node is testable with a
deterministic mock (the reference does the same in tests). Retrieval runs the
operators in operators/retrieval.py against any DataFrame-shaped store.

FastAPI is not in this container; an HTTP facade can wrap ``ChatPipeline``
1:1 (endpoints §2.11) — the serving logic lives here, framework-free.
"""

from __future__ import annotations

import threading
import time
import uuid
from collections.abc import Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class Message:
    role: str  # system | user | assistant | tool
    content: str


@dataclass
class RagSettings:
    """Parity with the reference RagSettings (schema.py:168-183)."""

    rag_enabled: bool = True
    search_type: str = "Similarity"  # | Similarity Score Threshold | Maximal Marginal Relevance
    top_k: int = 4
    score_threshold: float = 0.0
    fetch_k: int = 20
    lambda_mult: float = 0.5
    grading: bool = True
    distance_metric: str = "COSINE"
    # Optional compressed ANN tier for retrieval (tier_guard.SERVABLE_TIERS);
    # None = exact scan. The pipeline consults its tier gate (the cached
    # catalog verdict) before the first tiered query — a refused tier raises
    # instead of silently serving near-noise.
    search_tier: str | None = None


@dataclass
class Usage:
    prompt_tokens: int = 0
    completion_tokens: int = 0
    total_tokens: int = 0


@dataclass
class Choice:
    index: int
    message: Message
    finish_reason: str = "stop"


@dataclass
class ChatResponse:
    """OpenAI-compatible response shape (reference schema.py:213-285)."""

    id: str
    object: str
    created: int
    model: str
    choices: list[Choice]
    usage: Usage


class LLMClient:
    """Chat-model client interface (reference factory models.py:59-122)."""

    def complete(self, messages: list[Message]) -> str:  # pragma: no cover
        raise NotImplementedError

    def stream(self, messages: list[Message]) -> Iterator[str]:
        yield self.complete(messages)


class MockLLM(LLMClient):
    """Deterministic mock: echoes behavior by role — grading says yes iff any
    context word appears in the question; generation summarizes inputs."""

    def complete(self, messages: list[Message]) -> str:
        sys = next((m.content for m in messages if m.role == "system"), "")
        user = next((m.content for m in messages if m.role == "user"), "")
        if "relevance grader" in sys.lower():
            ctx = sys.split("CONTEXT:", 1)[-1].lower()
            words = [w for w in user.lower().split() if len(w) > 3]
            return "yes" if any(w in ctx for w in words) else "no"
        if "rephrase" in sys.lower():
            return user  # identity rephrase
        return f"ANSWER({user.strip()[:60]})"


DEFAULT_SYS_PROMPT = "You are a helpful assistant. Use the provided context to answer."
DEFAULT_CTX_PROMPT = (
    "rephrase: given the chat history, rewrite the latest question standalone."
)
GRADER_PROMPT = "You are a relevance grader. Answer yes or no.\nCONTEXT: {context}"


def clean_messages(history: list[Message], use_history: bool) -> list[Message]:
    """T5 history truncation (reference get_messages, chatbot.py:50-73):
    drop system messages; drop tool messages AND the assistant message that
    triggered them; when history is off keep only the latest user message."""
    out: list[Message] = []
    for i, m in enumerate(history):
        if m.role == "system":
            continue
        if m.role == "tool":
            continue
        if m.role == "assistant" and i + 1 < len(history) and history[i + 1].role == "tool":
            continue
        out.append(m)
    if not use_history:
        out = [m for m in out if m.role == "user"][-1:]
    return out


def _tok(s: str) -> int:
    return max(1, len(s.split()))


def _is_bool(v) -> bool:
    return isinstance(v, bool)


def _is_int(v) -> bool:
    return isinstance(v, int) and not isinstance(v, bool)


def _is_num(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _is_str(v) -> bool:
    return isinstance(v, str)


def _is_opt_str(v) -> bool:
    return v is None or isinstance(v, str)


# RagSettings field -> value-shape check, shared by the per-request overlay
# (skip invalid) and the settings PATCH route (reject invalid with 422)
_RAG_FIELD_CHECKS = {
    "rag_enabled": _is_bool,
    "search_type": _is_str,
    "top_k": _is_int,
    "score_threshold": _is_num,
    "fetch_k": _is_int,
    "lambda_mult": _is_num,
    "grading": _is_bool,
    "distance_metric": _is_str,
    "search_tier": _is_opt_str,
}


def invalid_rag_overrides(body: dict) -> list[str]:
    """Names of recognized RagSettings keys in `body` whose values have the
    wrong shape — the settings route 422s these at write time so a bad
    record never reaches the chat path at all."""
    return [
        k for k, v in body.items()
        if k in _RAG_FIELD_CHECKS and not _RAG_FIELD_CHECKS[k](v)
    ]


class ChatPipeline:
    """One pipeline per (store, embedder, llm) triple. Thread history is kept
    in-memory keyed by client id (reference MemorySaver keyed by thread_id,
    chatbot.py:371-372) — serving-layer state, not engine state.

    Retrieval reads a prepared store, built once on first use: the store
    plus its per-row L2 norm column (retrieval.with_row_norms), materialized
    by materialize_relation. Every search setting and every TieredStore the
    pipeline builds reads that frame, so the pipeline serves a snapshot of
    the store as it was at first use; a store re-ingested later needs a new
    pipeline.

    Beside it, a prepared store whose driver copy is estimated at or under
    retrieval.SNAPSHOT_MAX_BYTES (256 MB) is collected once into a
    retrieval.StoreSnapshot held on the driver, and the int8 tier's
    representation into a tier_guard.Int8HostCopy. Those answer every
    search setting with the rows and distances of the Spark plans and no
    Spark job per request. An over-cap store, a store with repeated ids or
    a column type the snapshot does not carry, and a query of another
    dimension are served by the Spark plans. The prepared state is built
    under one lock (HTTP threads share a pipeline) and released by
    close()."""

    def __init__(
        self,
        store: DataFrame | None,
        embed_query,  # Callable[[str], list[float]]
        llm: LLMClient,
        settings: RagSettings | None = None,
        sys_prompt: str = DEFAULT_SYS_PROMPT,
        ctx_prompt: str = DEFAULT_CTX_PROMPT,
        model_name: str = "mock-llm",
        tier_gate=None,  # Callable[[str], dict] or [(str, str)], dict]:
        #                  (tier[, metric]) -> verdict (raises on refused)
    ):
        self.store = store
        self.embed_query = embed_query
        self.llm = llm
        self.settings = settings or RagSettings()
        self.sys_prompt = sys_prompt
        self.ctx_prompt = ctx_prompt
        self.model_name = model_name
        # tier_gate is how serving consults the PERSISTED tier-guard verdict
        # with zero probe cost: wire it to
        # ``lambda t, m="COSINE": catalog.assert_tier_usable(store_name, t,
        # metric=m)`` so the cached sidecar verdict
        # (VectorStoreCatalog.tier_verdicts) gates the (tier, metric) pair
        # and supplies its accepted (possibly widened) operating point.
        # One-arg gates (the pre-r9 contract) still work for COSINE
        # requests — the only metric their verdicts were ever probed
        # under. A non-cosine tiered request requires a metric-aware
        # gate and raises otherwise (_tiered_store's dispatch): serving
        # int8 dot/euclidean behind a cosine-probed verdict would be the
        # verdict-config mismatch ADVICE r8 closed.
        self.tier_gate = tier_gate
        self._lock = threading.RLock()
        self._prepared: DataFrame | None = None
        self._snapshot = None  # retrieval.StoreSnapshot, set with _prepared
        self._tiered: dict[tuple[str, str], object] = {}
        self._host_tiers: dict[tuple[str, str], object] = {}  # Int8HostCopy
        self._history: dict[str, list[Message]] = {}

    # -- nodes ---------------------------------------------------------------
    def rephrase(self, question: str, history: list[Message]) -> str:
        if not history[:-1]:
            return question
        msgs = [Message("system", self.ctx_prompt), *history[:-1], Message("user", question)]
        return self.llm.complete(msgs)

    def _prepared_store(self) -> DataFrame:
        """The store plus its row-norm column, materialized on first use,
        and its driver snapshot (None when not covered), set first so a
        request that sees the prepared store sees its snapshot."""
        prepared = self._prepared
        if prepared is None:
            with self._lock:
                if self._prepared is None:
                    from oaim_sandbox_spark.materialize import materialize_relation
                    from oaim_sandbox_spark.operators.retrieval import (
                        StoreSnapshot, with_row_norms,
                    )

                    prepared = materialize_relation(with_row_norms(self.store), "chat_store")
                    self._snapshot = StoreSnapshot.collect(prepared)
                    self._prepared = prepared
                prepared = self._prepared
        return prepared

    def close(self) -> None:
        """Release the prepared store and every TieredStore representation
        this pipeline built (checkpoint blocks or staged parquet, whichever
        materialize_relation chose), and drop their driver copies. Call once
        serving has stopped; a later request would prepare them again."""
        from oaim_sandbox_spark.materialize import release_relation

        with self._lock:
            tiered, self._tiered = list(self._tiered.values()), {}
            prepared, self._prepared = self._prepared, None
            self._snapshot, self._host_tiers = None, {}
        for ts in tiered:
            ts.close()
        if prepared is not None:
            release_relation(prepared)

    def _tiered_store(self, tier: str, metric: str = "COSINE"):
        """Prepared TieredStore for this pipeline's store, built once per
        tier: the tier gate (cached catalog verdict — zero probe cost) runs
        first and supplies the accepted operating point, or raises on a
        refused tier before any compressed representation is built.

        A gate is REQUIRED: serving a compressed tier with no recall
        verdict is exactly the silent-near-noise failure tier_guard exists
        to stop (matryoshka on non-matryoshka embeddings measures 0.02
        recall@10 with no error). Wire ``tier_gate=lambda t:
        catalog.assert_tier_usable(store_name, t)``; a caller that truly
        wants to bypass the guard must say so explicitly with
        ``tier_gate=lambda t: {"operating_point": None}``."""
        # cache key includes the metric: a COSINE-prepared store must never
        # silently serve another client's DOT_PRODUCT request (review r8b).
        # int8 serves every metric through its own per-metric entry; a
        # non-cosine metric on a cosine-only tier deterministically raises
        # in the constructor on EVERY request, independent of which client
        # asked first (TIER_METRICS ladder, VERDICT r8 task #4)
        key = (tier, metric)
        ts = self._tiered.get(key)
        if ts is not None:
            return ts
        with self._lock:
            if key in self._tiered:  # built by another thread meanwhile
                return self._tiered[key]
            from oaim_sandbox_spark.operators.retrieval import row_norm_col
            from oaim_sandbox_spark.operators.tier_guard import Int8HostCopy, TieredStore

            if self.tier_gate is None:
                raise ValueError(
                    f"settings.search_tier={tier!r} but this pipeline has no "
                    "tier_gate — wire tier_gate=lambda t, m='COSINE': "
                    "catalog.assert_tier_usable(store_name, t, metric=m) so "
                    "the cached recall verdict gates the (tier, metric) pair "
                    "before it serves"
                )
            # Gate dispatch by METRIC, not by signature sniffing (review
            # r9: counting parameters misroutes the metric into a legacy
            # gate's second non-metric param, e.g. a floor kwarg or a
            # partial). COSINE requests call the one-arg form first — every
            # pre-r9 gate and every verdict ever probed is cosine, so that
            # is sound; a metric-aware gate whose second param has no
            # default gets the TypeError fallback. A NON-cosine request
            # REQUIRES a metric-aware gate: falling back to the one-arg
            # form would serve a cosine-probed verdict to a dot/euclidean
            # funnel — exactly the verdict-config mismatch ADVICE r8
            # closed — so that path raises instead.
            if metric == "COSINE":
                try:
                    verdict = self.tier_gate(tier)
                except TypeError:
                    verdict = self.tier_gate(tier, metric)
            else:
                try:
                    verdict = self.tier_gate(tier, metric)
                except TypeError as ex:
                    raise ValueError(
                        f"settings.distance_metric={metric!r} with a tiered "
                        "store needs a metric-aware tier_gate — wire "
                        "tier_gate=lambda t, m='COSINE': "
                        "catalog.assert_tier_usable(store_name, t, metric=m) "
                        f"(gate rejected the (tier, metric) call: {ex})"
                    ) from ex
            op = verdict.get("operating_point")
            ts = TieredStore(
                self._prepared_store().drop(row_norm_col()), tier,
                operating_point=op, metric=metric,
            )
            snap = self._snapshot
            if snap is not None:
                self._host_tiers[key] = Int8HostCopy.collect(ts, snap.ids, snap.dim)
            self._tiered[key] = ts
        return ts

    def _effective(self, overrides: dict | None) -> RagSettings:
        """Per-request settings: overlay a client's stored settings record
        (the config-plane dict) onto this pipeline's RagSettings — only
        recognized RagSettings fields with TYPE-VALID values apply (the
        record arrives from unvalidated PATCH bodies; a string top_k must
        not 500 the chat route mid-plan), and the pipeline's own settings
        object is never mutated (the pipeline is shared across clients).
        Reference parity: the sandbox applies the client's settings to the
        RAG chain per request (endpoints.py settings + chatbot chain)."""
        import dataclasses

        if not overrides:
            return self.settings
        kw = {
            k: v for k, v in overrides.items()
            if k in _RAG_FIELD_CHECKS and _RAG_FIELD_CHECKS[k](v)
        }
        return dataclasses.replace(self.settings, **kw) if kw else self.settings

    def retrieve(self, question: str, s: RagSettings | None = None) -> list:
        """The documents for one question: from the driver snapshot when it
        covers the store and the query, else from the Spark plans (negative
        k values keep Spark's own error)."""
        from oaim_sandbox_spark.operators.retrieval import (
            METRICS, mmr_rerank, similarity_topk,
        )

        qv = self.embed_query(question)
        s = s or self.settings
        if s.search_tier:
            key = (s.search_tier, s.distance_metric)
            ts = self._tiered_store(*key)
            host, snap = self._host_tiers.get(key), self._snapshot
            if host is not None and snap is not None and snap.covers(qv, s.top_k):
                return snap.ranked(*host.distances(qv), s.top_k)
            return ts.topk(qv, k=s.top_k).collect()
        store = self._prepared_store()
        snap = self._snapshot
        on_host = (snap is not None and s.distance_metric in METRICS
                   and snap.covers(qv, s.top_k, s.fetch_k))
        if s.search_type == "Maximal Marginal Relevance":
            if on_host:
                return snap.mmr(qv, s.top_k, s.fetch_k, s.lambda_mult, s.distance_metric)
            return mmr_rerank(store, qv, k=s.top_k, fetch_k=s.fetch_k,
                              lambda_mult=s.lambda_mult, metric=s.distance_metric)
        threshold = s.score_threshold if s.search_type == "Similarity Score Threshold" else None
        if on_host:
            return snap.topk(qv, s.top_k, s.distance_metric, threshold)
        return similarity_topk(store, qv, k=s.top_k, metric=s.distance_metric,
                               score_threshold=threshold).collect()

    def retrieve_batch(self, questions: list[str], s: RagSettings | None = None) -> list[list]:
        """Batched retrieval for MANY questions through ONE stage-1 scan
        over the tier's compressed representation
        (TieredStore.topk_batch — the 100 TB serving shape; per-question
        retrieve() would re-scan the representation len(questions) times).
        Requires settings.search_tier: the batch funnel IS the tiered
        store's, and it runs behind the same tier_gate verdict as the
        per-question path. Returns one row list per question, the SAME
        store rows in the SAME order as retrieve(question) — batch rows
        additionally carry the query_id/rank columns topk() drops, so
        compare on the store columns + distance, not whole-row equality
        (pinned in tests/test_tier_cache.py)."""
        s = s or self.settings
        if not s.search_tier:
            raise ValueError(
                "retrieve_batch requires settings.search_tier — the batch "
                "funnel is TieredStore.topk_batch; for exact untiered "
                "retrieval call retrieve() per question"
            )
        ts = self._tiered_store(s.search_tier, s.distance_metric)
        qrows = [(i, self.embed_query(q)) for i, q in enumerate(questions)]
        out: dict[int, list] = {i: [] for i in range(len(questions))}
        # one job: len(questions) * top_k rows, grouped client-side
        for r in ts.topk_batch(qrows, k=s.top_k).collect():
            out[r["query_id"]].append(r)
        return [out[i] for i in range(len(questions))]

    def grade(self, question: str, documents: list, s: RagSettings | None = None) -> bool:
        """LLM binary relevance gate (chatbot.py:223-287): one yes/no on the
        joined context; 'yes' routes to grounded generation."""
        return self.grade_with(self.llm, (s or self.settings).grading,
                               question, documents)

    @staticmethod
    def grade_with(llm: LLMClient, grading: bool, question: str,
                   documents: list) -> bool:
        """grade()'s logic with the picklable pieces passed explicitly —
        ONE definition shared by serving and the distributed batched
        evaluator's executor closure (testbed.evaluate_testset_batched),
        so the batched evaluation cannot silently apply a different
        relevance gate than chat() (the assemble_system_prompt rule,
        r11 review, extended to the gate in r12)."""
        if not grading:
            return True
        context = "\n\n".join(d["text"] for d in documents)
        verdict = llm.complete(
            [Message("system", GRADER_PROMPT.format(context=context)), Message("user", question)]
        )
        return verdict.strip().lower().startswith("yes")

    @staticmethod
    def assemble_system_prompt(sys_prompt: str, documents: list | None) -> str:
        """THE grounded-generation system prompt: sys prompt + joined
        context. One definition — generate() and the batched testbed
        evaluator (testbed.evaluate_testset_batched) both call it, so the
        batched evaluation cannot silently measure a different prompt
        than serving (r11 review). Static (no self) so UDF closures can
        capture it without pickling the pipeline's DataFrames."""
        if documents:
            context = "\n\n".join(d["text"] for d in documents)
            return f"{sys_prompt}\n\nCONTEXT:\n{context}"
        return sys_prompt

    def generate(self, question: str, documents: list | None, history: list[Message]) -> str:
        sys = self.assemble_system_prompt(self.sys_prompt, documents)
        return self.llm.complete([Message("system", sys), *history[:-1], Message("user", question)])

    # -- entry points ----------------------------------------------------------
    def chat(
        self,
        question: str,
        client_id: str = "default",
        use_history: bool = True,
        settings_overrides: dict | None = None,
    ) -> ChatResponse:
        if self.llm is None:
            # reference parity (endpoints chat_post + test_endpoints_chat
            # test_chat_completion_model_error): a language model that fails
            # to initialise returns 200 with the apology as the assistant
            # content — a config problem, not a request error. History is
            # untouched (no successful turn happened).
            apology = (
                "I'm sorry, I'm unable to initialise the Language Model. "
                "Please refresh the application."
            )
            return ChatResponse(
                id=f"chatcmpl-{uuid.uuid4().hex[:12]}",
                object="chat.completion",
                created=int(time.time()),
                model=self.model_name,
                choices=[Choice(0, Message("assistant", apology))],
                usage=Usage(),
            )
        s = self._effective(settings_overrides)
        history = self._history.setdefault(client_id, [])
        # the user/assistant pair is committed to persistent history only
        # AFTER the turn succeeds (the reference's checkpointer semantics):
        # appending the user message up front meant any provider/store
        # failure left a dangling user turn that corrupted every later
        # rephrase/generate call with malformed alternation
        msgs = clean_messages(history + [Message("user", question)], use_history)
        documents: list = []
        if s.rag_enabled and self.store is not None:
            q = self.rephrase(question, msgs)
            documents = self.retrieve(q, s)
            if documents and not self.grade(q, documents, s):
                documents = []
        answer = self.generate(question, documents or None, msgs)
        history.append(Message("user", question))
        history.append(Message("assistant", answer))
        prompt_toks = sum(_tok(m.content) for m in msgs) + sum(_tok(d["text"]) for d in documents)
        return ChatResponse(
            id=f"chatcmpl-{uuid.uuid4().hex[:12]}",
            object="chat.completion",
            created=int(time.time()),
            model=self.model_name,
            choices=[Choice(0, Message("assistant", answer))],
            usage=Usage(prompt_toks, _tok(answer), prompt_toks + _tok(answer)),
        )

    def stream(
        self,
        question: str,
        client_id: str = "default",
        use_history: bool = True,
        settings_overrides: dict | None = None,
    ) -> Iterator[str]:
        """Token streaming with the reference's end sentinel
        (endpoints.py:669-685)."""
        resp = self.chat(question, client_id, use_history, settings_overrides)
        for token in resp.choices[0].message.content.split(" "):
            yield token + " "
        yield "[stream_finished]"

    def history(self, client_id: str = "default") -> list[Message]:
        return list(self._history.get(client_id, []))
