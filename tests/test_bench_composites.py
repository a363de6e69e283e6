"""Smoke tests for bench.py's composite entries at sf0.001 — the bench is
the driver's measurement surface, so its composites need the same
don't-break guarantee as the registry."""

import bench

SF = "/root/testdata/sf0.001"


def test_ingest_pipeline_counts(spark):
    n = bench.ingest_pipeline(spark, SF)
    assert n > 0


def test_curation_pipeline_keeps_most_docs(spark):
    n = bench.curation_pipeline(spark, SF)
    # the synthetic corpus is mostly unique, quality-passing text
    assert 0 < n <= 500


def test_testbed_eval_scaled_correctness(spark):
    v = bench.testbed_eval(spark, SF)
    assert 0 <= v <= 10_000  # correctness x 10^4


def test_classifier_train_improves_loss(spark):
    v = bench.classifier_train(spark, SF)
    assert v > 0  # loss must DROP (units: 1e-4 nats)


def test_recall_block_failure_is_isolated(spark, monkeypatch):
    """Round-6 review: one recall flavor failing (here: its store prep
    raising) must report that block as empty and leave the other blocks'
    numbers intact — the shared harness must not collapse all three blocks
    into one failure domain."""
    real_prepare = bench._prepare_recall

    def exploding(spark_, sf_dir, flavor, k, n_queries):
        if flavor == "realistic":
            raise RuntimeError("injected prep failure")
        return real_prepare(spark_, sf_dir, flavor, k, n_queries)

    monkeypatch.setattr(bench, "_prepare_recall", exploding)
    out = bench.ann_recall_all(spark, "/root/testdata/sf0.001")
    assert out["recall_realistic"] == {}
    assert out["recall"] and out["recall_adversarial"]
    assert all(0.0 <= v <= 1.0 for v in out["recall"].values())


def test_stage_metrics_tracker_attributes_shuffle(spark):
    """StageMetricsTracker group-scoped deltas: a shuffling query run under
    a job group shows shuffle-write bytes for THAT group; a scan-only query
    under another group shows ~none; the job floor advances."""
    from pyspark.sql import functions as F

    import bench

    sc = spark.sparkContext
    tracker = bench.StageMetricsTracker(spark)
    assert tracker.delta() is not None  # baseline drain
    sc.setJobGroup("shufq", "test shuffle query")
    spark.range(1_000_000).withColumn("k", F.col("id") % 97).groupBy("k").count().collect()
    d_shuffle = tracker.delta(group="shufq")
    assert d_shuffle is not None and d_shuffle[0] > 0
    floor_after_shuffle = tracker._job_floor
    sc.setJobGroup("scanq", "test scan query")
    spark.range(1000).selectExpr("sum(id)").collect()  # partial-agg only
    d_scan = tracker.delta(group="scanq")
    assert d_scan is not None and d_scan[0] <= d_shuffle[0] / 10
    assert tracker._job_floor > floor_after_shuffle
    sc.setLocalProperty("spark.jobGroup.id", None)


def test_stage_metrics_tracker_no_cross_attribution_live(spark):
    """PINNED regression for the r11 sweepline false flag (VERDICT r11 #2):
    a slow shuffling query of job group A, still running when query B's
    delta is read, must contribute ZERO bytes to B's group-scoped delta —
    and its bytes must land in A's own delta once A completes. The old
    time-windowed tracker attributed A's late-completing stages to
    whichever query's snapshot saw them first (8.33 MB vs 5.39 MB on the
    driver's r11 record)."""
    import threading

    from pyspark.sql import functions as F

    import bench

    sc = spark.sparkContext
    tracker = bench.StageMetricsTracker(spark)
    tracker.delta()  # drain

    def fast_query():
        return (spark.range(200_000).withColumn("k", F.col("id") % 53)
                .groupBy("k").agg(F.count("*").alias("n")).collect())

    # solo baseline for B's shuffle bytes (deterministic plan)
    sc.setJobGroup("soloB", "baseline")
    fast_query()
    solo = tracker.delta(group="soloB")
    assert solo is not None and solo[0] > 0

    def slow_shuffler():
        # ~2s of map work (java_method sleep per row) feeding a shuffle —
        # the thread sets its OWN job group on its pinned JVM thread
        spark.sparkContext.setJobGroup("slowA", "overlapping slow query")
        (spark.range(0, 32, 1, 8)
         .withColumn("z", F.expr("java_method('java.lang.Thread','sleep',500L)"))
         .withColumn("k", F.col("id") % 4)
         .groupBy("k").agg(F.count("*").alias("n")).collect())

    t = threading.Thread(target=slow_shuffler, daemon=True)
    t.start()
    import time as _time
    _time.sleep(0.8)  # A is mid-flight (32 rows x 0.5s / 8 threads ~ 2s)
    sc.setJobGroup("fastB", "measured query")
    fast_query()
    overlapped = tracker.delta(group="fastB", settle_s=1.0)
    t.join()
    # B's bytes are exactly its solo bytes — nothing of A bled in
    assert overlapped is not None and overlapped[0] == solo[0]
    # A's bytes are claimable by A's own group afterwards (not abandoned)
    d_a = tracker.delta(group="slowA")
    assert d_a is not None and d_a[0] > 0
    sc.setLocalProperty("spark.jobGroup.id", None)


class _FakeStage:
    def __init__(self, sid, status, sw, att=0):
        self._sid, self._status, self._sw, self._att = sid, status, sw, att

    def stageId(self):
        return self._sid

    def attemptId(self):
        return self._att

    def status(self):
        return self._status

    def shuffleWriteBytes(self):
        return self._sw

    def diskBytesSpilled(self):
        return 0

    def memoryBytesSpilled(self):
        return 0


class _FakeOption:
    def __init__(self, v):
        self._v = v

    def isDefined(self):
        return self._v is not None

    def get(self):
        return self._v


class _FakeSeq(list):
    def size(self):
        return len(self)

    def apply(self, i):
        return self[i]


class _FakeJob:
    def __init__(self, jid, group, stage_ids, status="SUCCEEDED"):
        self._jid, self._group, self._sids, self._status = jid, group, stage_ids, status

    def jobId(self):
        return self._jid

    def jobGroup(self):
        return _FakeOption(self._group)

    def stageIds(self):
        return _FakeSeq(self._sids)

    def status(self):
        return self._status


class _FakeStore:
    """Stand-in for the JVM AppStatusStore: stageList/jobsList newest-first."""

    def __init__(self):
        self.stages = {}
        self.jobs = {}

    def stageList(self, *_args):
        return _FakeSeq(self.stages[k] for k in sorted(self.stages, reverse=True))

    def jobsList(self, *_args):
        return _FakeSeq(self.jobs[k] for k in sorted(self.jobs, reverse=True))


class _FakeGateway:
    class jvm:  # noqa: N801 — mimics py4j attribute shape
        double = float

        class java:  # noqa: N801
            class util:  # noqa: N801
                ArrayList = list

    def new_array(self, _t, _n):
        return []


def _fake_tracker(store):
    import bench

    t = bench.StageMetricsTracker.__new__(bench.StageMetricsTracker)
    t._ok, t._job_floor = True, -1
    t._claimed, t._counted = set(), set()
    t._pending, t.late_by_group = {}, {}
    t._store, t._gw = store, _FakeGateway()
    return t


def test_stage_metrics_tracker_straggler_stays_with_its_job():
    """The exact r11 bleed, replayed: query A's job has a stage still
    ACTIVE when A's delta is read (settle skipped); the stage completes
    before query B's delta. B must NOT absorb it — attribution follows the
    owning JOB's group, never snapshot timing."""
    store = _FakeStore()
    tracker = _fake_tracker(store)
    store.jobs[0] = _FakeJob(0, "A", [1], status="RUNNING")
    store.stages[1] = _FakeStage(1, "ACTIVE", 8_330_000)
    d_a = tracker.delta(group="A", settle_s=0.0)
    assert d_a == (0, 0, 0)  # ACTIVE stage excluded, not partially counted
    # A's straggler completes; B runs and completes its own small stage
    store.jobs[0] = _FakeJob(0, "A", [1], status="SUCCEEDED")
    store.stages[1] = _FakeStage(1, "COMPLETE", 8_330_000)
    store.jobs[1] = _FakeJob(1, "B", [2], status="SUCCEEDED")
    store.stages[2] = _FakeStage(2, "COMPLETE", 5_390_000)
    d_b = tracker.delta(group="B", settle_s=0.0)
    assert d_b[0] == 5_390_000  # the old tracker read 8.33 MB here
    # ADVICE r12: A's deadline-leftover stage is not LOST once its job is
    # claimed — it folds into late_by_group under A's own name, never B's
    assert tracker.late_by_group == {"A": [8_330_000, 0, 0]}
    assert tracker._pending == {}


def test_stage_metrics_tracker_collect_late_sweep():
    """ADVICE r12, end-of-run path: a straggler still ACTIVE at its query's
    deadline AND never revisited by a later delta is swept up by
    collect_late() once terminal, attributed to the owning group, and a
    never-finishing stage stays uncounted (with the pending entry kept)."""
    store = _FakeStore()
    tracker = _fake_tracker(store)
    store.jobs[0] = _FakeJob(0, "Q", [1, 2], status="RUNNING")
    store.stages[1] = _FakeStage(1, "COMPLETE", 100)
    store.stages[2] = _FakeStage(2, "ACTIVE", 900)
    assert tracker.delta(group="Q", settle_s=0.0) == (100, 0, 0)
    assert tracker._pending == {2: "Q"}
    # the straggler finishes; no further per-query delta happens — the
    # bench's finalize sweep must still credit Q
    store.stages[2] = _FakeStage(2, "COMPLETE", 900)
    late = tracker.collect_late(settle_s=0.0)
    assert late == {"Q": [900, 0, 0]}
    assert tracker._pending == {}
    # a stage that NEVER terminates: bounded wait, stays pending, no credit
    store.jobs[1] = _FakeJob(1, "R", [3], status="RUNNING")
    store.stages[3] = _FakeStage(3, "ACTIVE", 77)
    assert tracker.delta(group="R", settle_s=0.0) == (0, 0, 0)
    assert tracker.collect_late(settle_s=0.0) == {"Q": [900, 0, 0]}
    assert tracker._pending == {3: "R"}


def test_bench_concurrent_activity_detection():
    """VERDICT r12 task #4: the 'run the record bench alone' discipline is
    now code — a process with pytest/spark/bench.py in its cmdline (other
    than this process and its ancestors) is detected and flips the
    contended flag; once it exits, it no longer appears. The record carries
    concurrent_activity ONLY when contended."""
    import subprocess
    import sys as _sys
    import time as _time

    import bench

    base = {o["pid"] for o in bench.detect_concurrent_activity()["processes"]}
    fake = subprocess.Popen(
        [_sys.executable, "-c", "import time; time.sleep(30)", "fake-pytest-probe"]
    )
    try:
        for _ in range(50):  # settle: /proc entry appears immediately, but be safe
            got = bench.detect_concurrent_activity()
            if fake.pid in {o["pid"] for o in got["processes"]}:
                break
            _time.sleep(0.05)
        new = {o["pid"] for o in got["processes"]} - base
        assert fake.pid in new, got
        assert bench.activity_is_contended(got)
    finally:
        fake.kill()
        fake.wait()
    after = {o["pid"] for o in bench.detect_concurrent_activity()["processes"]}
    assert fake.pid not in after
    # flag logic: absent offenders + low load = quiet; high load alone flags
    assert not bench.activity_is_contended({"loadavg_1m": 0.4, "processes": []})
    assert bench.activity_is_contended({"loadavg_1m": 31.0, "processes": []})


def test_activity_load_threshold_scales_with_cpus(monkeypatch):
    """The loadavg limit is a quarter of the usable CPUs: 2.0 saturates half
    of a 4-CPU host but is background noise on a 32-CPU one."""
    import os

    load2 = {"loadavg_1m": 2.0, "processes": []}
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(4)))
    assert bench.activity_is_contended(load2)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(32)))
    assert not bench.activity_is_contended(load2)
    assert bench.activity_is_contended({"loadavg_1m": 8.5, "processes": []})


def test_stage_metrics_tracker_skipped_shared_stage_counted_once():
    """A shuffle stage reused (SKIPPED) by a later job's group must not be
    double-counted into that group's delta — the (stageId, attemptId)
    counted set guards it."""
    store = _FakeStore()
    tracker = _fake_tracker(store)
    store.jobs[0] = _FakeJob(0, "A", [1])
    store.stages[1] = _FakeStage(1, "COMPLETE", 100)
    assert tracker.delta(group="A", settle_s=0.0)[0] == 100
    store.jobs[1] = _FakeJob(1, "B", [1, 2])  # job B reuses stage 1's shuffle
    store.stages[2] = _FakeStage(2, "COMPLETE", 10)
    assert tracker.delta(group="B", settle_s=0.0)[0] == 10


def test_stage_metrics_tracker_combined_and_floor():
    """delta(None) claims every unclaimed job (group-less worker threads,
    drains); the floor advances only through the contiguous claimed prefix
    so an unclaimed concurrent job is never floored past."""
    store = _FakeStore()
    tracker = _fake_tracker(store)
    store.jobs[0] = _FakeJob(0, "x", [1])
    store.stages[1] = _FakeStage(1, "COMPLETE", 5)
    store.jobs[1] = _FakeJob(1, None, [2])
    store.stages[2] = _FakeStage(2, "COMPLETE", 7)
    assert tracker.delta(settle_s=0.0)[0] == 12  # combined
    assert tracker._job_floor == 1
    # out-of-order claiming: job 3's group is read before job 2 finishes
    store.jobs[2] = _FakeJob(2, "slow", [3], status="RUNNING")
    store.stages[3] = _FakeStage(3, "ACTIVE", 50)
    store.jobs[3] = _FakeJob(3, "fast", [4])
    store.stages[4] = _FakeStage(4, "COMPLETE", 9)
    assert tracker.delta(group="fast", settle_s=0.0)[0] == 9
    assert tracker._job_floor == 1  # job 2 unclaimed — floor held back
    store.jobs[2] = _FakeJob(2, "slow", [3], status="SUCCEEDED")
    store.stages[3] = _FakeStage(3, "COMPLETE", 50)
    assert tracker.delta(group="slow", settle_s=0.0)[0] == 50
    assert tracker._job_floor == 3  # contiguous prefix fully claimed
    assert tracker._claimed == set()
