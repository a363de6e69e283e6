"""Size-thresholded materialization (materialize.py): both strategies
produce the same rows; the parquet path stages under the warehouse
_staging dir and cleanup removes it."""

import glob
import os

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


def test_corpus_sized_runner_relations_stage_at_threshold(spark, monkeypatch):
    """embedding_cosine_pairs' assigned store and bpe_tokenize's token
    counts go through materialize_relation: at a 1-byte threshold each run
    stages its relation to parquet and returns the same rows as the
    default (localCheckpoint) run."""
    from oaim_sandbox_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    runners = Q.spark_queries()
    for name, prefix in (("embedding_cosine_pairs", "ecp_assigned"), ("bpe_tokenize", "bpe_cnt")):
        monkeypatch.delenv(M.SPILL_ENV, raising=False)
        default = runners[name](spark, sf).collect()
        before = list(M._STAGED_THIS_PROCESS)
        monkeypatch.setenv(M.SPILL_ENV, "1")
        got = runners[name](spark, sf).collect()
        staged = [p for p in M._STAGED_THIS_PROCESS if p not in before]
        assert [os.path.basename(p).rsplit("_", 1)[0] for p in staged] == [prefix], staged
        assert glob.glob(os.path.join(M._local_path(staged[0]), "*.parquet"))
        assert default and got == default
        M.cleanup_staging(staged)
