"""Chat pipeline (§3.1 state machine): history cleaning rules (T5), RAG
routing, grading gate, OpenAI-compatible response shape, streaming sentinel."""

import pytest

from oaim_sandbox_spark.operators.embed import DeterministicProvider, mock_embed_column
from oaim_sandbox_spark.serving.chat import (
    ChatPipeline,
    Message,
    MockLLM,
    RagSettings,
    clean_messages,
)


def test_clean_messages_drops_system_and_tool():
    hist = [
        Message("system", "sys"),
        Message("user", "q1"),
        Message("assistant", "calls tool"),
        Message("tool", "tool result"),
        Message("assistant", "a1"),
        Message("user", "q2"),
    ]
    out = clean_messages(hist, use_history=True)
    # system gone, tool gone, the assistant message that triggered the tool gone
    assert [(m.role, m.content) for m in out] == [
        ("user", "q1"),
        ("assistant", "a1"),
        ("user", "q2"),
    ]


def test_clean_messages_no_history_keeps_last_user():
    hist = [Message("user", "q1"), Message("assistant", "a1"), Message("user", "q2")]
    out = clean_messages(hist, use_history=False)
    assert [(m.role, m.content) for m in out] == [("user", "q2")]


@pytest.fixture(scope="module")
def pipeline(spark):
    docs = spark.createDataFrame(
        [
            ("c1", "spark is a distributed compute engine for large data"),
            ("c2", "cats are small domesticated felines that sleep all day"),
            ("c3", "parquet is a columnar storage format used with spark"),
        ],
        "id STRING, text STRING",
    )
    store = mock_embed_column(docs, dim=32)
    embedder = DeterministicProvider(dim=32)
    return ChatPipeline(
        store,
        embed_query=lambda q: embedder.embed_documents([q])[0],
        llm=MockLLM(),
        settings=RagSettings(top_k=2),
    )


def test_chat_response_shape(pipeline):
    resp = pipeline.chat("tell me about spark compute", client_id="t1")
    assert resp.object == "chat.completion"
    assert resp.choices[0].finish_reason == "stop"
    assert resp.choices[0].message.role == "assistant"
    assert resp.usage.total_tokens == resp.usage.prompt_tokens + resp.usage.completion_tokens
    assert resp.choices[0].message.content.startswith("ANSWER(")


def test_history_kept_per_client(pipeline):
    pipeline.chat("first question about spark", client_id="h1")
    pipeline.chat("second question about parquet", client_id="h1")
    hist = pipeline.history("h1")
    assert [m.role for m in hist] == ["user", "assistant", "user", "assistant"]
    assert pipeline.history("other") == []


def test_stream_sentinel(pipeline):
    toks = list(pipeline.stream("stream me an answer please", client_id="s1"))
    assert toks[-1] == "[stream_finished]"
    assert "".join(toks[:-1]).strip().startswith("ANSWER(")


def test_rag_disabled_skips_retrieval(spark):
    p = ChatPipeline(
        None,
        embed_query=lambda q: [0.0],
        llm=MockLLM(),
        settings=RagSettings(rag_enabled=False),
    )
    resp = p.chat("anything at all works here")
    assert resp.choices[0].message.content.startswith("ANSWER(")


def test_grading_gate_drops_irrelevant(pipeline):
    # question shares no >3-char word with any stored chunk -> grader says no
    # -> generation runs ungrounded (still answers)
    resp = pipeline.chat("zzzz qqqq wwww", client_id="g1")
    assert resp.choices[0].message.content.startswith("ANSWER(")


def test_failed_turn_leaves_history_clean():
    """A provider failure mid-turn must not commit a dangling user message:
    the user/assistant pair lands in persistent history only after the turn
    succeeds, so a retry does not produce two consecutive user turns."""
    import pytest

    from oaim_sandbox_spark.serving.chat import ChatPipeline, LLMClient, Message, RagSettings

    class FlakyLLM(LLMClient):
        def __init__(self):
            self.calls = 0

        def complete(self, messages):
            self.calls += 1
            if self.calls == 1:
                raise RuntimeError("provider timeout")
            return "recovered answer"

        def stream(self, messages):
            yield self.complete(messages)

    pipe = ChatPipeline(store=None, embed_query=None, llm=FlakyLLM(),
                        settings=RagSettings(rag_enabled=False))
    with pytest.raises(RuntimeError):
        pipe.chat("hello?", client_id="c1")
    assert pipe.history("c1") == []  # nothing dangling
    resp = pipe.chat("hello?", client_id="c1")  # retry succeeds
    assert resp.choices[0].message.content == "recovered answer"
    assert [m.role for m in pipe.history("c1")] == ["user", "assistant"]


def test_chat_without_llm_returns_apology_not_crash():
    """Reference parity (test_endpoints_chat test_chat_completion_model_error):
    an uninitialisable language model yields HTTP-200 semantics with the
    apology as the assistant content; history stays untouched."""
    pipe = ChatPipeline(store=None, embed_query=None, llm=None,
                        settings=RagSettings(rag_enabled=False))
    resp = pipe.chat("hello?", client_id="c-nollm")
    assert "unable to initialise the Language Model" in resp.choices[0].message.content
    assert pipe.history("c-nollm") == []
    # streaming path shares the fallback and still ends with the sentinel
    toks = list(pipe.stream("hello?", client_id="c-nollm"))
    assert toks[-1] == "[stream_finished]"


# -- prepared serving store ----------------------------------------------------

SETTINGS_ALL = [
    RagSettings(top_k=3, grading=False),
    RagSettings(top_k=3, grading=False, search_type="Similarity Score Threshold",
                score_threshold=0.2),
    RagSettings(top_k=3, grading=False, search_type="Maximal Marginal Relevance",
                fetch_k=10),
    RagSettings(top_k=3, grading=False, search_tier="int8"),
]


def _numeric_pipeline(spark):
    from pyspark.sql import functions as F

    docs = spark.range(60).withColumn("text", F.concat(F.lit("chunk about topic "),
                                                       (F.col("id") % 7).cast("string")))
    embedder = DeterministicProvider(dim=16)
    return ChatPipeline(
        mock_embed_column(docs, dim=16),
        embed_query=lambda q: embedder.embed_documents([q])[0],
        llm=MockLLM(),
        tier_gate=lambda t: {"operating_point": None},
    )


def test_every_setting_reads_the_prepared_store(spark):
    """Each search setting returns the rows an unprepared exact scan
    returns, with the store's own columns only, and the store is
    materialized once however many requests it serves."""
    from oaim_sandbox_spark.operators.retrieval import similarity_topk

    pipe = _numeric_pipeline(spark)
    qv = pipe.embed_query("chunk about topic 3")
    for s in SETTINGS_ALL[:2]:
        thr = s.score_threshold if s.search_type != "Similarity" else None
        want = similarity_topk(pipe.store, qv, k=3, score_threshold=thr).collect()
        got = pipe.retrieve("chunk about topic 3", s)
        assert got == want and got
    prepared = pipe._prepared
    for s in SETTINGS_ALL:
        rows = pipe.retrieve("chunk about topic 3", s)
        assert rows and not any(c.startswith("__") for c in rows[0].asDict())
    assert pipe._prepared is prepared
    pipe.close()


def test_prepared_state_built_once_under_concurrent_first_requests(spark, monkeypatch):
    """HTTP threads share one pipeline: concurrent first requests for the
    same tier must build one prepared store, one TieredStore, one driver
    snapshot and one int8 host copy, not one per thread (the loser would
    leak its checkpoint)."""
    import sys
    import threading
    import time

    from oaim_sandbox_spark import materialize as M
    from oaim_sandbox_spark.operators import retrieval as R
    from oaim_sandbox_spark.operators import tier_guard as TG

    built = {"store": 0, "tier": 0, "snapshot": 0, "int8_host": 0}
    real_mat, real_init = M.materialize_relation, TG.TieredStore.__init__
    real_snap, real_host = R.StoreSnapshot.collect.__func__, TG.Int8HostCopy.collect.__func__

    def counting(name, real):
        def collect(cls, *a, **kw):
            built[name] += 1
            time.sleep(0.3)
            return real(cls, *a, **kw)
        return classmethod(collect)

    def slow_materialize(df, prefix, *a, **kw):
        if prefix == "chat_store":
            built["store"] += 1
            time.sleep(0.3)  # widen the window a missing lock would lose
        return real_mat(df, prefix, *a, **kw)

    def counting_init(self, *a, **kw):
        built["tier"] += 1
        time.sleep(0.3)
        real_init(self, *a, **kw)

    monkeypatch.setattr(M, "materialize_relation", slow_materialize)
    monkeypatch.setattr(TG.TieredStore, "__init__", counting_init)
    monkeypatch.setattr(R.StoreSnapshot, "collect", counting("snapshot", real_snap))
    monkeypatch.setattr(TG.Int8HostCopy, "collect", counting("int8_host", real_host))
    pipe = _numeric_pipeline(spark)
    n = 8  # more threads than the session's cores
    barrier = threading.Barrier(n)
    results, errors = [], []

    def ask():
        try:
            barrier.wait(timeout=60)
            results.append(pipe.retrieve("chunk about topic 1", SETTINGS_ALL[3]))
        except Exception as ex:  # noqa: BLE001
            errors.append(ex)

    threads = [threading.Thread(target=ask) for _ in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not [t for t in threads if t.is_alive()]
    assert not errors, errors
    assert built == {"store": 1, "tier": 1, "snapshot": 1, "int8_host": 1}
    assert pipe._snapshot is not None and pipe._host_tiers[("int8", "COSINE")] is not None
    assert len(results) == n and all(r == results[0] for r in results)
    pipe.close()


def _cached_rdd_ids(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if i.numCachedPartitions() > 0}


def test_close_releases_checkpoint_blocks(spark):
    """close() frees the prepared store and every tier representation: the
    RDD storage blocks the four settings created return to their
    baseline."""
    import time

    pipe = _numeric_pipeline(spark)
    before = _cached_rdd_ids(spark)
    for s in SETTINGS_ALL:
        assert pipe.retrieve("chunk about topic 2", s)
    assert _cached_rdd_ids(spark) - before  # the prepared state holds blocks
    pipe.close()
    deadline = time.time() + 10  # block removal is asynchronous
    while _cached_rdd_ids(spark) - before and time.time() < deadline:
        time.sleep(0.1)
    assert not _cached_rdd_ids(spark) - before
    assert pipe._prepared is None and not pipe._tiered
    assert pipe._snapshot is None and not pipe._host_tiers


def test_close_removes_staged_store(spark, monkeypatch):
    """At or above the spill threshold the prepared store and the tier
    representation go to durable staging; close() removes those
    directories."""
    import os

    from oaim_sandbox_spark import materialize as M

    monkeypatch.setenv(M.SPILL_ENV, "0")
    before = list(M._STAGED_THIS_PROCESS)
    pipe = _numeric_pipeline(spark)
    for s in SETTINGS_ALL:
        assert pipe.retrieve("chunk about topic 4", s)
    staged = [p for p in M._STAGED_THIS_PROCESS if p not in before]
    assert len(staged) == 2  # the prepared store and the int8 representation
    pipe.close()
    assert not [p for p in M._STAGED_THIS_PROCESS if p not in before]
    assert not any(os.path.exists(M._local_path(p)) for p in staged)


def _spark_rows(pipe, q, s):
    """What the Spark plans return for one request over pipe's prepared
    store: the parity reference for the driver snapshot."""
    from oaim_sandbox_spark.operators.retrieval import (
        mmr_rerank, row_norm_col, similarity_topk,
    )

    qv, store = pipe.embed_query(q), pipe._prepared_store()
    if s.search_tier:
        return pipe._tiered[(s.search_tier, s.distance_metric)].topk(qv, k=s.top_k).collect()
    if s.search_type == "Maximal Marginal Relevance":
        return mmr_rerank(store, qv, k=s.top_k, fetch_k=s.fetch_k, lambda_mult=s.lambda_mult)
    thr = s.score_threshold if s.search_type != "Similarity" else None
    rows = similarity_topk(store, qv, k=s.top_k, score_threshold=thr).collect()
    assert not any(c == row_norm_col() for c in rows[0].asDict())
    return rows


def test_snapshot_serves_every_setting_without_a_spark_job(spark):
    """Under the cap every search setting is answered from the driver
    snapshot: the Spark plans' rows, and no Spark job in the request."""
    pipe = _numeric_pipeline(spark)
    for s in SETTINGS_ALL:
        pipe.retrieve("warm", s)
    assert pipe._snapshot is not None
    sc = spark.sparkContext
    for n, s in enumerate(SETTINGS_ALL):
        sc.setJobGroup(f"snapshot-{n}", "one retrieve")
        try:
            got = pipe.retrieve("chunk about topic 5", s)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(f"snapshot-{n}") == []
        assert got and got == _spark_rows(pipe, "chunk about topic 5", s)
    pipe.close()


def test_over_cap_and_repeated_id_stores_are_served_by_spark(spark, monkeypatch):
    """With the cap forced low, or with a repeated id, no snapshot is built
    and every setting still returns the Spark plans' rows through Spark."""
    from oaim_sandbox_spark.operators import retrieval as R

    dup = _numeric_pipeline(spark)
    dup.store = dup.store.union(dup.store.filter("id = 5"))
    sc = spark.sparkContext
    for cap, pipe in ((100, _numeric_pipeline(spark)), (R.SNAPSHOT_MAX_BYTES, dup)):
        monkeypatch.setattr(R, "SNAPSHOT_MAX_BYTES", cap)
        for n, s in enumerate(SETTINGS_ALL):
            sc.setJobGroup(f"spark-path-{n}", "one retrieve")
            try:
                got = pipe.retrieve("chunk about topic 5", s)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert sc.statusTracker().getJobIdsForGroup(f"spark-path-{n}")
            assert got and got == _spark_rows(pipe, "chunk about topic 5", s)
        assert pipe._snapshot is None and not any(pipe._host_tiers.values())
        pipe.close()
