"""Size-thresholded materialization (materialize.py): both strategies
produce the same rows; the parquet path stages under the warehouse
_staging dir and cleanup removes it. The scope: each call below leaves no
checkpoint blocks but those its returned frame reads, and no temp views,
streams or unstaged temp dirs."""

import glob
import os

import pytest
from conftest import SF_SMALL as SF
from pyspark.sql import functions as F

from oaim_sandbox_spark import materialize as M


def _src(spark):
    return spark.range(0, 1000).withColumn("v", F.col("id") % 7)


def test_fast_path_localcheckpoint(spark):
    df = _src(spark)
    out = M.materialize_relation(df, "tmat", spill_bytes=1 << 60)
    assert out.count() == 1000
    # localCheckpoint path: no staging directory created for this prefix
    stg = M._staging_dir(spark).replace("file:", "")
    assert not glob.glob(os.path.join(stg, "tmat_*"))
    # lineage is truncated: the materialized plan no longer contains Range
    assert "Range" not in out._jdf.queryExecution().optimizedPlan().toString()


def test_spill_path_parquet_staging(spark):
    df = _src(spark)
    before = list(M._STAGED_THIS_PROCESS)
    out = M.materialize_relation(df, "tmatspill", spill_bytes=0)
    staged = [p for p in M._STAGED_THIS_PROCESS if p not in before]
    assert len(staged) == 1 and "tmatspill_" in staged[0]
    local = staged[0].replace("file:", "")
    assert glob.glob(os.path.join(local, "*.parquet")) or glob.glob(
        os.path.join(local, "part-*")
    )
    # identical contents vs the source
    assert sorted(r["id"] for r in out.collect()) == list(range(1000))
    # durable: the returned plan is a parquet scan, replayable on executor loss
    assert "parquet" in out._jdf.queryExecution().optimizedPlan().toString().lower()
    M.cleanup_staging(staged)
    assert not os.path.exists(local)


def test_env_threshold_respected(spark, monkeypatch):
    monkeypatch.setenv(M.SPILL_ENV, str(1 << 60))
    out = M.materialize_relation(_src(spark), "tmatenv")
    assert "parquet" not in out._jdf.queryExecution().optimizedPlan().toString().lower()
    assert out.count() == 1000


def test_cleanup_with_explicit_paths_prunes_process_ledger(spark):
    """cleanup_staging(paths=...) must drop cleaned paths from the module
    ledger too, so the atexit pass never re-attempts removed directories."""
    before = list(M._STAGED_THIS_PROCESS)
    M.materialize_relation(_src(spark), "tmatledger", spill_bytes=0)
    staged = [p for p in M._STAGED_THIS_PROCESS if p not in before]
    assert len(staged) == 1
    M.cleanup_staging(staged)  # explicit-paths branch
    assert staged[0] not in M._STAGED_THIS_PROCESS


def test_free_local_checkpoint_releases_blocks(spark):
    """The internal release path must actually drop the checkpoint's
    storage blocks (DataFrame.unpersist is a documented no-op for
    checkpointed plans — r11 review), visible via getRDDStorageInfo."""
    sc = spark.sparkContext

    def cached_ids():
        # the CHECKPOINT'S OWN rdd id, not absolute counts: the
        # ContextCleaner may concurrently release an earlier test's blocks
        # between two calls, which made a base+1 count assertion flaky
        # under the full suite (r13 continuation)
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()
                if i.numCachedPartitions() > 0}

    ck = spark.range(10_000).localCheckpoint(eager=True)
    assert ck.count() == 10_000
    rid = ck._jdf.queryExecution().analyzed().rdd().id()
    assert rid in cached_ids()
    M.free_local_checkpoint(ck)
    assert rid not in cached_ids()


def test_free_local_checkpoint_logs_degradation(spark, caplog):
    """ADVICE r11: a non-LogicalRDD input (i.e. not a localCheckpoint
    result) must take the fallback WITH a warning — never a silent no-op
    revert that lets blocks re-accumulate unobserved."""
    import logging

    df = spark.range(100).selectExpr("id * 2 AS x")  # analyzed plan: Project
    with caplog.at_level(logging.WARNING, logger="oaim_sandbox_spark.materialize"):
        M.free_local_checkpoint(df)  # must not raise
    assert any("not LogicalRDD" in r.message and "falling back" in r.message
               for r in caplog.records)


class _RecordingLedger(list):
    """The staging ledger, also recording every path entered into it."""

    def __init__(self, paths):
        super().__init__(paths)
        self.entered = []

    def append(self, path):
        self.entered.append(path)
        super().append(path)


def test_corpus_sized_runner_relations_stage_at_threshold(spark, monkeypatch):
    """embedding_cosine_pairs' assigned store and bpe_tokenize's token
    counts go through materialize_relation: at a 1-byte threshold each run
    stages its relation to parquet and returns the same rows as the
    default (localCheckpoint) run. The assigned store is the runner's scope's
    and is removed before it returns (the returned frame reads only the
    `scored` checkpoint); the token counts are read by the returned frame,
    so they stay staged."""
    from oaim_sandbox_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    runners = Q.spark_queries()
    for name, prefix, kept in (("embedding_cosine_pairs", "ecp_assigned", False),
                               ("bpe_tokenize", "bpe_cnt", True)):
        monkeypatch.delenv(M.SPILL_ENV, raising=False)
        default = runners[name](spark, sf).collect()
        ledger = _RecordingLedger(M._STAGED_THIS_PROCESS)
        monkeypatch.setattr(M, "_STAGED_THIS_PROCESS", ledger)
        monkeypatch.setenv(M.SPILL_ENV, "1")
        got = runners[name](spark, sf).collect()
        staged = ledger.entered
        assert [os.path.basename(p).rsplit("_", 1)[0] for p in staged] == [prefix], staged
        assert (staged[0] in ledger) == kept
        assert bool(glob.glob(os.path.join(M._local_path(staged[0]), "*.parquet"))) == kept
        assert default and got == default
        M.cleanup_staging(staged)


# -- the scope: what a call leaves behind -------------------------------------

def _blocks(spark) -> set[int]:
    """Ids of the RDDs holding storage blocks (checkpoints)."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if i.numCachedPartitions() > 0}


def _reads(df) -> set[int]:
    """Ids of the checkpointed RDDs `df`'s plan reads."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    out = set()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            out.add(leaf.rdd().id())
    return out


def test_scope_releases_everything_on_an_exception(spark):
    before = _blocks(spark)
    with pytest.raises(RuntimeError):
        with M.scope(spark) as s:
            ck = s.checkpoint(_src(spark))
            view = s.view(ck, "tscope")
            assert spark.table(view).count() == 1000
            raise RuntimeError("body failed")
    assert _blocks(spark) <= before
    assert not spark.catalog.tableExists(view)


def test_scope_keep_hands_a_relation_to_the_caller(spark):
    before = _blocks(spark)
    with M.scope(spark) as s:
        dropped = s.checkpoint(_src(spark))
        kept = s.keep(s.checkpoint(dropped.filter("v = 1")))
    assert _blocks(spark) - before == _reads(kept)
    assert kept.count() == 143
    M.release_relation(kept)
    assert _blocks(spark) <= before


@pytest.mark.parametrize("union_find", [True, False])
def test_connected_components_leaves_only_the_labels_it_returns(spark, monkeypatch, union_find):
    from oaim_sandbox_spark.operators import dedup

    if not union_find:  # the iterative label-propagation path
        monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", 0)
    edges = spark.createDataFrame([(i, i + 1) for i in range(0, 40) if i % 10 != 9],
                                  "doc_a BIGINT, doc_b BIGINT")
    nodes = spark.range(0, 45).withColumnRenamed("id", "doc_id")
    before = _blocks(spark)
    out = dedup.connected_components(edges, nodes)
    assert _blocks(spark) - before <= _reads(out)
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {i: (i // 10 * 10 if i < 40 else i) for i in range(45)}


def test_stream_ingest_micro_batches_free_their_checkpoints(spark, tmp_path):
    import json

    from oaim_sandbox_spark.streaming.ingest import stream_ingest

    landing = tmp_path / "landing"
    landing.mkdir()
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    for i, docs in enumerate([
        [{"doc_id": "orig", "text": base, "source": "s1"}],
        [{"doc_id": "near", "text": base + "tail", "source": "s2"},
         {"doc_id": "fresh", "text": "totally different words " * 10, "source": "s3"}],
        [{"doc_id": "third", "text": "another distinct document body " * 8, "source": "s4"}],
    ]):
        (landing / f"b{i}.jsonl").write_text("\n".join(json.dumps(d) for d in docs))
    store = str(tmp_path / "store")
    before = _blocks(spark)
    q = stream_ingest(spark, str(landing), store, str(tmp_path / "ckpt"),
                      chunk_size=1000, chunk_overlap=0, max_files_per_trigger=1,
                      near_dedup_jaccard=0.5, sig_dir=str(tmp_path / "sigs"))
    assert q.awaitTermination(120)
    assert q.lastProgress["batchId"] == 2  # three micro-batches
    assert _blocks(spark) <= before
    srcs = {r["source"] for r in spark.read.parquet(store).select("source").distinct().collect()}
    assert srcs == {"orig", "fresh", "third"}


def test_curate_corpus_frees_superseded_checkpoints(spark):
    from oaim_sandbox_spark.pipeline import curate_corpus

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(200)
    before = _blocks(spark)
    out, counts = curate_corpus(spark, docs, {
        "min_quality": 1e-9, "exact_dedup": True, "near_dedup_jaccard": 0.5,
    })
    assert _blocks(spark) - before <= _reads(out)
    assert out.count() == counts["output"] > 0


def test_populate_vs_frees_its_checkpoints(spark, tmp_path):
    from oaim_sandbox_spark.catalog import VectorStorage, VectorStoreCatalog
    from oaim_sandbox_spark.pipeline import populate_vs

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    vs = VectorStorage(alias="leak", model="mock-embed", chunk_size=200, chunk_overlap=20,
                       distance_metric="COSINE", index_type="IVF")
    before = _blocks(spark)
    rep = populate_vs(spark, docs, VectorStoreCatalog(spark, root=str(tmp_path)), vs)
    assert rep.n_new > 0
    assert _blocks(spark) <= before


@pytest.mark.parametrize("tier", ["int8", "pq_adc_rerank"])
def test_tier_recall_probe_frees_its_sub_store(spark, tier):
    from oaim_sandbox_spark.operators.tier_guard import sampled_tier_recall

    store = spark.read.parquet(f"{SF}/embeddings.parquet")
    before = _blocks(spark)
    got = sampled_tier_recall(store, tiers=[tier], k=5, n_queries=4)
    assert 0.0 <= got[tier]["recall"] <= 1.0
    assert _blocks(spark) <= before


def test_memory_sink_run_that_times_out_raises_and_stops(spark, monkeypatch):
    """A stream still running when awaitTermination's timeout passes must
    not hand back the sink's partial rows: the run stops the query, drops
    the sink view and raises."""
    import time

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.query import StreamingQuery

    from oaim_sandbox_spark import queries_registry as QR

    def slow(x):
        time.sleep(5)
        return True

    real_stream, real_await = QR.events_stream, StreamingQuery.awaitTermination
    monkeypatch.setattr(
        QR, "events_stream",
        lambda spark, sf_dir: real_stream(spark, sf_dir).filter(
            F.udf(slow, "boolean")(F.col("event_type"))),
    )
    monkeypatch.setattr(StreamingQuery, "awaitTermination",
                        lambda self, timeout=None: real_await(self, 1))
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    try:
        with pytest.raises(TimeoutError):
            QR._streaming_hourly_spark(spark, SF)
    finally:
        leftover = list(spark.streams.active)
        for query in leftover:
            query.stop()
    assert not leftover
    assert {t.name for t in spark.catalog.listTables() if t.isTemporary} == views


IVF_RUNNERS = {
    "ivf_ann_topk": "ivf_store_",
    "ivf_full_probe_topk": "ivf_full_",
    "hard_negative_funnel": "ivf_hardneg_",
    "knn_consensus_funnel": "ivf_consensus_",
    "coreset_coverage_funnel": "ivf_coreset_",
    "knn_hubness_funnel": "ivf_hubness_",
}


def test_ivf_runner_dirs_are_staged_for_cleanup(spark):
    """Each IVF runner's store directory outlives the runner (its returned
    frame reads it lazily) and is in the staging ledger, so cleanup_staging
    removes it."""
    import tempfile

    from oaim_sandbox_spark import queries as Q

    runners = Q.spark_queries()
    for name, prefix in IVF_RUNNERS.items():
        before = list(M._STAGED_THIS_PROCESS)
        rows = runners[name](spark, SF).collect()
        staged = [p for p in M._STAGED_THIS_PROCESS if p not in before]
        assert rows, name
        assert len(staged) == 1, (name, staged)
        assert os.path.dirname(staged[0]) == tempfile.gettempdir(), staged
        assert os.path.basename(staged[0]).startswith(prefix), staged
        assert os.path.isdir(staged[0])
        M.cleanup_staging(staged)
        assert not os.path.exists(staged[0])
