"""Testbed — Q&A test-set generation, storage, and evaluation (SURVEY §3.3,
reference src/server/utils/testbed.py + endpoints.py:740-913), Spark-first:

  - three parquet-backed tables (testsets / testset_qa / evaluations) replace
    the reference's Oracle tables (testbed.py:60-98); reports are JSON rows,
    never pickles (K8 improvement).
  - test-set generation (S10/P5 + question generator) is deterministic: one
    question per seed chunk, templated from the chunk's leading words —
    the Giskard generate_testset shape ({question, reference_answer,
    reference_context, metadata{topic,question_type,seed_document_id}},
    testbed.py:247-297) with the LLM swapped for a template so tests are
    hermetic.
  - evaluation (A1-A3): one judge call per QA row as an Arrow-batched
    mapInPandas (the reference loops rows through an HTTP judge,
    endpoints.py:862-913 — at 100 TB the rows ARE a DataFrame, so the judge
    runs data-parallel), then groupBy aggregations for overall / per-topic
    correctness and the failures subset.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from oaim_sandbox_spark.functions import portable as P
from oaim_sandbox_spark.materialize import scope

EVAL_ROW_FIELDS = (
    "eid STRING, tid STRING, question STRING, agent_answer STRING, correct BOOLEAN, topic STRING"
)


@dataclass
class TestbedStore:
    """Directory-backed testbed tables (one parquet dir per table)."""

    root: str

    def _p(self, name: str) -> str:
        return os.path.join(self.root, name)

    # -- K7: upsert test set (match on name, replace QA rows) ---------------
    def upsert_testset(self, spark: SparkSession, name: str, qa: DataFrame) -> str:
        os.makedirs(self.root, exist_ok=True)
        existing = self.get_testsets(spark)
        tid = None
        if existing is not None:
            # name filter runs in Spark (pushed to the parquet scan) — only
            # matching rows ever reach the driver
            hit = existing.filter(F.col("name") == name).select("tid").head(1)
            if hit:
                tid = hit[0]["tid"]
        created = time.time()
        if tid is None:
            tid = uuid.uuid4().hex
            row = spark.createDataFrame(
                [(tid, name, created)], "tid STRING, name STRING, created DOUBLE"
            )
            mode = "append" if os.path.isdir(self._p("testsets")) else "overwrite"
            row.write.mode(mode).parquet(self._p("testsets"))
        qa_rows = qa.withColumn("tid", F.lit(tid))
        self._recover("testset_qa")
        if os.path.isdir(self._p("testset_qa")):
            kept = spark.read.parquet(self._p("testset_qa")).filter(F.col("tid") != tid)
            kept.unionByName(qa_rows.select(*kept.columns)).write.mode("overwrite").parquet(
                self._p("testset_qa") + "_tmp"
            )
            self._swap("testset_qa")
        else:
            qa_rows.write.mode("overwrite").parquet(self._p("testset_qa"))
        return tid

    def _swap(self, name: str) -> None:
        """rename-aside swap (never rmtree-then-rename: a kill between the
        two calls would leave the LIVE table deleted with the data stranded
        in _tmp). A crash between the renames strands the table under
        __old; _recover (run by writers BEFORE producing a fresh _tmp, and
        by readers) restores it."""
        import shutil

        path = self._p(name)
        old = path + "__old"
        os.rename(path, old)
        os.rename(path + "_tmp", path)
        shutil.rmtree(old)

    def _recover(self, name: str) -> None:
        """Heal any prior crash: restore a table stranded under __old and
        clear stale temp dirs. Must run before a writer stages a new _tmp
        (never inside _swap — it would delete the tmp just written)."""
        import shutil

        path = self._p(name)
        old = path + "__old"
        if not os.path.isdir(path) and os.path.isdir(old):
            os.rename(old, path)
        for leftover in (old, path + "_tmp"):
            if os.path.isdir(leftover):
                shutil.rmtree(leftover)

    # -- K9: cascade delete --------------------------------------------------
    def delete_testset(self, spark: SparkSession, tid: str) -> None:
        for table in ("testsets", "testset_qa", "evaluations"):
            self._recover(table)
            path = self._p(table)
            if os.path.isdir(path):
                src = (
                    self._read_evaluations(spark)
                    if table == "evaluations"
                    else spark.read.parquet(path)
                )
                kept = src.filter(F.col("tid") != tid)
                kept.write.mode("overwrite").parquet(path + "_tmp")
                self._swap(table)

    # -- S13: ordered scans ----------------------------------------------------
    def get_testsets(self, spark: SparkSession) -> DataFrame | None:
        self._recover("testsets")
        path = self._p("testsets")
        if not os.path.isdir(path):
            return None
        return spark.read.parquet(path).orderBy("created")

    def get_testset_qa(self, spark: SparkSession, tid: str) -> DataFrame:
        return spark.read.parquet(self._p("testset_qa")).filter(F.col("tid") == tid)

    def _read_evaluations(self, spark: SparkSession) -> DataFrame:
        # mergeSchema: the evaluations dir can mix pre-'failures' 6-column
        # files with current 7-column ones; without it Spark may infer the
        # OLD footer schema and silently drop 'failures' for every row
        return spark.read.option("mergeSchema", "true").parquet(self._p("evaluations"))

    def get_evaluations(self, spark: SparkSession, tid: str) -> DataFrame | None:
        path = self._p("evaluations")
        if not os.path.isdir(path):
            return None
        return (
            self._read_evaluations(spark).filter(F.col("tid") == tid).orderBy(F.col("evaluated").desc())
        )

    def insert_evaluation(self, spark: SparkSession, report: "EvaluationReport") -> str:
        eid = uuid.uuid4().hex
        row = spark.createDataFrame(
            [
                (
                    eid,
                    report.tid,
                    time.time(),
                    float(report.correctness),
                    json.dumps(report.settings),
                    json.dumps(report.by_topic),
                    json.dumps(report.failures),
                )
            ],
            "eid STRING, tid STRING, evaluated DOUBLE, correctness DOUBLE, "
            "settings STRING, report STRING, failures STRING",
        )
        mode = "append" if os.path.isdir(self._p("evaluations")) else "overwrite"
        row.write.mode(mode).parquet(self._p("evaluations"))
        return eid

    def get_evaluation(self, spark: SparkSession, eid: str) -> dict:
        """Full stored report by eid (reference endpoints.py:762-767
        testbed_evaluation -> process_report: the singular GET returns the
        complete EvaluationReport, not the list row). Raises KeyError for an
        unknown eid. The failures list is the bounded sample
        evaluate_testset collected (max_failures), stored as JSON — never a
        full re-materialization of the per-row results."""
        path = self._p("evaluations")
        if not os.path.isdir(path):
            raise KeyError(f"evaluation {eid!r} not found")
        hit = (
            self._read_evaluations(spark).filter(F.col("eid") == eid).head(1)
        )
        if not hit:
            raise KeyError(f"evaluation {eid!r} not found")
        r = hit[0].asDict()
        return {
            "eid": r["eid"],
            "tid": r["tid"],
            "evaluated": r["evaluated"],
            "correctness": r["correctness"],
            "settings": json.loads(r["settings"] or "{}"),
            "by_topic": json.loads(r["report"] or "{}"),
            "failures": json.loads(r.get("failures") or "[]"),
        }


QUESTION_TYPES = ("simple", "complex", "conversational")

_HISTORY_TYPE = "array<struct<role:string,content:string>>"


def generate_testset(
    chunks: DataFrame,
    n_questions: int = 10,
    text_col: str = "text",
    id_col: str = "id",
    topic_col: str | None = "source",
    question_types: tuple[str, ...] = ("simple", "complex"),
) -> DataFrame:
    """Deterministic Q&A generation from seed chunks (testbed §3.3 companion
    path; reference testbed.py:247-297 generates via question_generators =
    [simple_questions, complex_questions] over a knowledge base).

    Seeds are assigned a generator round-robin in id order (deterministic),
    one templated question per seed:

      - ``simple``: direct lookup question, empty conversation_history
      - ``complex``: multi-clause reasoning question, empty history
      - ``conversational``: short follow-up whose subject lives in the
        conversation_history turns (Giskard conversational shape)

    Output mirrors the QATestset frame the reference GUI edits
    (client/content/testbed.py:165-212): question / reference_answer /
    reference_context / conversation_history plus topic, question_type,
    seed_document_id both flattened and as a JSON ``metadata`` string."""
    for t in question_types:
        if t not in QUESTION_TYPES:
            raise ValueError(f"unknown question type {t!r}; pick from {QUESTION_TYPES}")
    seeds = chunks.orderBy(id_col).limit(n_questions)
    w = Window.orderBy(id_col)
    gen_arr = F.array(*[F.lit(t) for t in question_types])
    seeds = seeds.withColumn(
        "question_type", F.element_at(gen_arr, (F.row_number().over(w) - 1) % len(question_types) + 1)
    )
    topic = F.col(topic_col) if topic_col else F.lit("general")
    first_words = F.expr(f"array_join(slice(split({text_col}, ' '), 1, 5), ' ')")
    question = (
        F.when(
            F.col("question_type") == "simple",
            F.concat(F.lit("What does the passage starting with '"), first_words,
                     F.lit("' describe?")),
        )
        .when(
            F.col("question_type") == "complex",
            F.concat(F.lit("Considering the passage beginning '"), first_words,
                     F.lit("', what is its main subject, and what supporting details does it give?")),
        )
        .otherwise(F.lit("What else does it mention?"))
    )
    history = F.when(
        F.col("question_type") == "conversational",
        F.array(
            F.struct(
                F.lit("user").alias("role"),
                F.concat(F.lit("Let's discuss the passage starting with '"), first_words,
                         F.lit("'.")).alias("content"),
            ),
            F.struct(
                F.lit("assistant").alias("role"),
                F.lit("Sure - what would you like to know about it?").alias("content"),
            ),
        ),
    ).otherwise(F.expr(f"CAST(array() AS {_HISTORY_TYPE})"))
    return seeds.select(
        question.alias("question"),
        F.expr(f"substr({text_col}, 1, 120)").alias("reference_answer"),
        F.col(text_col).alias("reference_context"),
        history.alias("conversation_history"),
        topic.cast("string").alias("topic"),
        F.col("question_type"),
        F.col(id_col).cast("string").alias("seed_document_id"),
        F.to_json(
            F.struct(
                topic.cast("string").alias("topic"),
                F.col("question_type"),
                F.col(id_col).cast("string").alias("seed_document_id"),
            )
        ).alias("metadata"),
    )


@dataclass
class EvaluationReport:
    """JSON-native report (replaces the reference's pickled Giskard RAGReport
    BLOB, testbed.py:85): overall correctness (A1), per-topic (A2),
    failures (A3)."""

    tid: str
    correctness: float
    by_topic: dict[str, float]
    failures: list[dict]
    settings: dict


def evaluate_testset(
    spark: SparkSession,
    qa: DataFrame,
    answer_fn_factory: Callable[[], Callable[[str], str]],
    judge_factory: Callable[[], Callable[[str, str, str], bool]],
    tid: str = "",
    settings: dict | None = None,
    max_failures: int = 1000,
    context_col: str | None = None,
) -> EvaluationReport:
    """Run every QA row through the answerer + judge, data-parallel.

    answer_fn_factory() -> (question -> answer); judge_factory() ->
    (question, reference_answer, agent_answer -> correct). Factories are
    constructed per executor task (picklable), mirroring the reference's
    per-row get_answer + LLM judge (endpoints.py:871-900).

    ``max_failures`` caps the driver-side failure sample: the aggregate
    correctness stats stay exact and distributed, but the per-row failure
    list is a bounded .limit() collect so evaluating a 10M-row set can't
    OOM the driver (the reference unpickles the whole report, testbed.py:337
    — fine at its scale, not at ours).

    ``context_col`` (VERDICT r11 #5): when set, that qa column carries each
    row's retrieved context texts (array<string>, joined on by the batched
    evaluator) and the answer callable is invoked as
    ``answer(question, ctx_texts)`` — contexts ride the rows into the
    executors instead of living in a question-keyed driver dict.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        answer = answer_fn_factory()
        judge = judge_factory()
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                if context_col is not None:
                    ctx = r[context_col]
                    # an outer-join miss arrives as None/NaN, a hit as a
                    # numpy array — normalize to list[str]
                    ctx = [str(t) for t in ctx] if ctx is not None \
                        and not isinstance(ctx, float) else []
                    ans = answer(r["question"], ctx)
                else:
                    ans = answer(r["question"])
                ok = bool(judge(r["question"], r["reference_answer"], ans))
                rows.append(
                    {
                        "eid": uuid.uuid4().hex,
                        "tid": r.get("tid", tid) or tid,
                        "question": r["question"],
                        "agent_answer": ans,
                        "correct": ok,
                        "topic": r.get("topic", "general"),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["eid", "tid", "question", "agent_answer", "correct", "topic"]
            )

    # localCheckpoint, not cache: the three actions below must see ONE
    # consistent evaluation of the (possibly nondeterministic, expensive)
    # answer/judge UDF — cached partitions can be EVICTED and silently
    # recomputed, re-paying real LLM calls and producing a failures list
    # inconsistent with the reported correctness. Checkpointed blocks are
    # not evictable; the scope releases the blocks when done.
    with scope(spark) as s:
        per_row = s.checkpoint(qa.mapInPandas(run, EVAL_ROW_FIELDS))
        overall = per_row.agg(F.avg(F.col("correct").cast("double")).alias("c")).collect()[0]["c"]
        by_topic = {
            r["topic"]: round(r["c"], 4)
            for r in per_row.groupBy("topic").agg(F.avg(F.col("correct").cast("double")).alias("c")).collect()
        }
        failures = [
            {"question": r["question"], "agent_answer": r["agent_answer"], "topic": r["topic"]}
            for r in per_row.filter(~F.col("correct")).limit(max_failures).collect()
        ]
    return EvaluationReport(
        tid=tid,
        correctness=round(overall or 0.0, 4),
        by_topic=by_topic,
        failures=failures,
        settings=settings or {},
    )


def evaluate_testset_batched(
    spark: SparkSession,
    qa: DataFrame,
    pipe,  # serving.chat.ChatPipeline with settings.search_tier + tier_gate
    judge_factory: Callable[[], Callable[[str, str, str], bool]],
    tid: str = "",
    settings: dict | None = None,
    max_failures: int = 1000,
) -> EvaluationReport:
    """evaluate_testset with the RETRIEVAL stage batched AND fully
    distributed (VERDICT r10 #4 + r11 #5): every question's context comes
    from ONE TieredStore.topk_batch_df call — one stage-1 scan over the
    tier's compressed representation for the whole testset — and the
    contexts are JOINED back onto the QA frame as a column instead of
    living in a question-keyed driver dict, so this path now scales to
    the per-question path's 10M rows (the r11 10k-question cap and its
    refusal are gone because the driver state they bounded is gone).

    Parity with serving, piece by piece: the tier gate runs once, before
    any query, exactly as in the per-question path
    (pipe._tiered_store); questions are embedded by the pipeline's OWN
    embed_query inside a mapInPandas batch (the callable is picklable —
    it must not capture DataFrames); the relevance gate is
    ChatPipeline.grade_with (grade()'s shared logic) and the grounded
    prompt is ChatPipeline.assemble_system_prompt, both applied per
    question inside the evaluation UDF so a graded pipeline measures
    exactly chat()'s routing. Only llm / sys_prompt / settings scalars
    are captured in closures.

    Query ids are the portable 60-bit hash of the question text —
    deterministic across retries and recomputations (a
    monotonically_increasing_id would desync under speculative
    re-execution); collision freedom is asserted in the same dim-sized
    aggregate that counts the distinct questions. ``qa`` is checkpointed
    once so every consumer sees ONE evaluation of its lineage (r11
    second-pass review), and the derived query relation is checkpointed
    too — the embeddings must not be recomputed per downstream stage."""
    from oaim_sandbox_spark.serving.chat import ChatPipeline, Message

    clash = {"query_id", "_ctx_texts"} & set(qa.columns)
    if clash:
        # the topk_batch reserved-columns rule, applied to the join keys
        # this evaluator adds: a qa frame already carrying them would make
        # the context joins ambiguous (or silently drop the caller's data)
        raise ValueError(
            f"qa columns {sorted(clash)} collide with the batched "
            "evaluator's context-join columns; rename them first")
    with scope(spark) as own:
        qa = own.checkpoint(qa)
        s = pipe.settings
        if s.rag_enabled and pipe.store is not None:
            if not s.search_tier:
                # same contract as ChatPipeline.retrieve_batch: the batch
                # funnel IS the tiered store's — refuse clearly up front
                # instead of letting TieredStore(None) raise obscurely
                raise ValueError(
                    "evaluate_testset_batched requires settings.search_tier "
                    "— batched retrieval runs through TieredStore."
                    "topk_batch_df; for exact untiered retrieval use "
                    "evaluate_testset with a per-question retrieve()")
            ts = pipe._tiered_store(s.search_tier, s.distance_metric)  # gate once
            embed = pipe.embed_query

            def embed_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    yield pd.DataFrame({
                        "question": pdf["question"],
                        "query_vec": [
                            [float(x) for x in embed(q)] for q in pdf["question"]
                        ],
                    })

            # a NULL question is an invalid eval row everywhere downstream
            # (embed_query(None) / llm.complete(None) throw in both eval
    	    # paths) — but here it would ALSO trip the hash-collision
            # check with a misleading message (md5(NULL) is NULL, which
            # countDistinct skips), so refuse it by name up front
            n_null = qa.where(F.col("question").isNull()).limit(1).count()
            if n_null:
                raise ValueError(
                    "qa contains NULL question rows — drop or fix them "
                    "before evaluating (a NULL question cannot be embedded, "
                    "retrieved for, or answered)")
            qdf = own.checkpoint(
                qa.select("question").distinct()
                .mapInPandas(embed_batches, "question STRING, query_vec ARRAY<DOUBLE>")
                .withColumn("query_id", F.expr(P.hash64("question", "spark")))
            )
            stats = qdf.agg(
                F.count("*").alias("n"),
                F.countDistinct("query_id").alias("nid"),
            ).collect()[0]
            if stats["n"] != stats["nid"]:
                raise ValueError(
                    "query_id hash collision across distinct questions "
                    f"({stats['n']} questions, {stats['nid']} ids) — "
                    "astronomically unlikely at 60 bits; dedupe the "
                    "colliding questions or evaluate per-question"
                )
            hits = ts.topk_batch_df(qdf.select("query_id", "query_vec"), k=s.top_k)
            # rank-ordered context texts per question: rank is a per-query
            # row_number (unique), so the struct sort reproduces
            # retrieve()'s ascending-distance order deterministically
            ctx = (
                hits.groupBy("query_id")
                .agg(F.array_sort(F.collect_list(F.struct("rank", "text"))).alias("rt"))
                .select("query_id", F.expr("transform(rt, x -> x.text)").alias("_ctx_texts"))
            )
            if s.grading:
                # relevance gate per DISTINCT question (ADVICE r12): grading
                # inside the evaluation UDF paid one gate LLM call per QA
                # ROW, and a nondeterministic grader could route identical
                # duplicate questions differently within one evaluation —
                # the per-question path grades each distinct question once.
                # The verdict applies at the dim-sized ctx relation: a
                # failed gate empties that question's context array, which
                # routes every duplicate row to ungrounded generation
                # exactly as chat() would.
                # ctx is checkpointed FIRST (r13 review): it feeds both the
                # gate mapInPandas and the verdict join, and an inlined
                # plan would run the whole topk_batch_df subtree — the one
                # stage-1 scan this function exists to guarantee — twice.
                ctx = own.checkpoint(ctx)
                gate_llm = pipe.llm
                gate_with = ChatPipeline.grade_with

                def grade_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                    for pdf in batches:
                        verdicts = []
                        for q, texts in zip(pdf["question"], pdf["_ctx_texts"]):
                            docs = [{"text": str(t)} for t in texts] \
                                if texts is not None and not isinstance(texts, float) else []
                            verdicts.append(bool(gate_with(gate_llm, True, q, docs)) if docs else True)
                        yield pd.DataFrame({"query_id": pdf["query_id"], "_ctx_pass": verdicts})

                gate = (
                    qdf.select("query_id", "question").join(ctx, "query_id", "left")
                    .mapInPandas(grade_batches, "query_id BIGINT, _ctx_pass BOOLEAN")
                )
                ctx = ctx.join(gate, "query_id").select(
                    "query_id",
                    F.when(F.col("_ctx_pass"), F.col("_ctx_texts"))
                    .otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
                    .alias("_ctx_texts"),
                )
            qa_eval = (
                qa.join(qdf.select("question", "query_id"), "question", "left")
                .join(ctx, "query_id", "left")
                .drop("query_id")
            )
        else:
            # chat()'s routing: RAG off (or no store) answers ungrounded —
            # the eval must measure the pipeline AS CONFIGURED (r11
            # second-pass review)
            qa_eval = qa.withColumn("_ctx_texts", F.lit(None).cast("array<string>"))
        llm = pipe.llm
        sys_prompt = pipe.sys_prompt
        assemble = ChatPipeline.assemble_system_prompt

        def answer_factory():
            def answer(question: str, ctx_texts: list[str]) -> str:
                # the relevance gate already ran per DISTINCT question (the
                # grade_batches stage above empties gate-failed contexts),
                # so a row with contexts here is a gate-passed row
                docs = [{"text": t} for t in ctx_texts]
                sys = assemble(sys_prompt, docs)
                return llm.complete([Message("system", sys), Message("user", question)])

            return answer

        return evaluate_testset(
            spark, qa_eval, answer_factory, judge_factory,
            tid=tid, settings=settings, max_failures=max_failures,
            context_col="_ctx_texts",
        )
