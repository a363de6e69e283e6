"""Structured Streaming ingest — the continuous form of the reference's
§3.2 batch ingest job (SURVEY §2.9: the reference has no data streaming; this
is the 100 TB design the north star asks for).

Two entry points:

  - ``stream_ingest``: readStream over a landing directory of JSONL document
    files -> foreachBatch runs the SAME batch operators (split -> dedup ->
    content-id -> anti-join merge vs the store -> mock/provider embed ->
    append). foreachBatch gives exactly-once append via the checkpoint +
    idempotent content-id merge (re-processed batches anti-join to zero).

  - ``windowed_event_counts``: watermarked tumbling-window aggregation over an
    event stream — the streaming twin of the events_hourly_windows batch
    query (late rows beyond the watermark are dropped, state is bounded).

Scale notes: the landing scan is incremental (maxFilesPerTrigger); the merge
anti-join shuffles only content ids; the store append is partitioned parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StringType, StructField, StructType

from oaim_sandbox_spark.materialize import scope

STREAM_DOC_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("text", StringType(), True),
        StructField("source", StringType(), True),
    ]
)


def stream_ingest(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    chunk_size: int = 200,
    chunk_overlap: int = 20,
    embed_dim: int = 64,
    max_files_per_trigger: int = 16,
    ivf_index=None,  # operators.ann.IVFIndex (fitted) — optional ANN leg
    ann_store_dir: str | None = None,
    classifier_min_score: float | None = None,
    near_dedup_jaccard: float | None = None,
    sig_dir: str | None = None,
) -> StreamingQuery:
    """Continuous document ingest: landing JSONL -> vector-store parquet.

    ``classifier_min_score`` applies the same linear quality gate as
    pipeline.curate_corpus (join-free expression form) to each arriving
    batch BEFORE chunking — the streaming twin of the batch curation stage,
    so a corpus curated continuously matches one curated in batch.

    ``near_dedup_jaccard`` + ``sig_dir`` add the steady-state NEAR-dup leg:
    the batch's minhash signatures probe the persisted signature store
    (never the corpus text), batch docs estimated >= the threshold against
    ANY existing doc are dropped, and the surviving signatures append to
    sig_dir — per-batch cost stays proportional to the batch while the
    corpus grows without bound.

    With a fitted ``ivf_index`` + ``ann_store_dir``, each batch's fresh
    embedded chunks are ALSO appended into the centroid-partitioned ANN
    store (IVFIndex.append_partitioned): the steady-state "vectors arrive
    continuously, index partitions grow in place, no refit per batch" path.
    """
    from oaim_sandbox_spark.operators.dedup import exact_dedup
    from oaim_sandbox_spark.operators.embed import mock_embed_column
    from oaim_sandbox_spark.operators.merge import merge_new_rows, with_content_id
    from oaim_sandbox_spark.operators.split import split_fixed

    stream = (
        spark.readStream.schema(STREAM_DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(landing_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # the batch's checkpoints are freed when it is written: a running
        # stream would otherwise pin two per micro-batch, without bound
        with scope(batch_df.sparkSession) as s:
            if classifier_min_score is not None:
                from pyspark.sql import functions as F

                from oaim_sandbox_spark.operators.classifier import linear_quality_score_sql

                batch_df = batch_df.filter(
                    F.expr(linear_quality_score_sql("text")) >= F.lit(classifier_min_score)
                )
            if near_dedup_jaccard is not None and sig_dir:
                from pyspark.sql import functions as F

                from oaim_sandbox_spark.operators.dedup import (
                    incremental_near_dups,
                    minhash_signatures,
                )

                import os as _os

                spark_b = batch_df.sparkSession
                batch_df = s.checkpoint(batch_df)
                from oaim_sandbox_spark.streaming.ingest import (
                    recover_signature_store,
                    wait_for_compaction,
                )

                wait_for_compaction(sig_dir)  # never race a live compactor's swap
                recover_signature_store(sig_dir)  # heal a crashed compaction swap
                # existence check, not a bare except: a TRANSIENT read failure
                # must fail the batch (checkpoint retries it) — swallowing it
                # would skip the near-dup probe and admit duplicates permanently
                have_sigs = spark_b.read.parquet(sig_dir) if _os.path.isdir(sig_dir) else None
                if have_sigs is not None:
                    near = incremental_near_dups(
                        batch_df, None, existing_signatures=have_sigs, owner=s
                    ).filter(F.col("est_jaccard") >= near_dedup_jaccard)
                    batch_df = s.checkpoint(batch_df.join(
                        near.select(F.col("new_id").alias("doc_id")).distinct(),
                        "doc_id", "left_anti",
                    ))
            chunks = split_fixed(batch_df, text_col="text", id_col="doc_id",
                                 chunk_size=chunk_size, chunk_overlap=chunk_overlap)
            deduped = exact_dedup(chunks, text_col="text", order_col="id")
            addressed = with_content_id(deduped, text_col="text", id_col="id")
            try:
                existing = batch_df.sparkSession.read.parquet(store_dir).select("id")
            except Exception:  # first batch: store doesn't exist yet
                existing = batch_df.sparkSession.createDataFrame([], "id STRING")
            fresh = merge_new_rows(addressed, existing, id_col="id")
            embedded = mock_embed_column(fresh, text_col="text", dim=embed_dim)
            out = embedded.select("id", "text", "source", "start_index", "embedding")
            out.write.mode("append").parquet(store_dir)
            if near_dedup_jaccard is not None and sig_dir:
                # signatures append AFTER the flat-store write: if the store
                # write fails, the retry must NOT find this batch's signatures
                # (it would near-dup against itself and drop the data); the
                # reverse failure (store ok, sigs lost) is healed by the
                # content-id anti-join + this re-append on retry
                from oaim_sandbox_spark.operators.dedup import minhash_signatures

                import os as _os

                from oaim_sandbox_spark.streaming.ingest import wait_for_compaction

                wait_for_compaction(sig_dir)  # an append mid-swap would land in __old
                sigs = minhash_signatures(batch_df)
                if _os.path.isdir(sig_dir):
                    # anti-join against already-stored (doc_id, signature) rows:
                    # redeliveries must not grow the store unboundedly, but the
                    # key includes the SIGNATURE — a revised document reusing an
                    # existing doc_id gets its new content's signature appended
                    # (an id-only key would freeze the stale signature forever,
                    # making near-dups of the revised content undetectable).
                    # Store size stays bounded by distinct (id, content) pairs.
                    have = (
                        batch_df.sparkSession.read.parquet(sig_dir)
                        .select("doc_id", "signature").distinct()
                    )
                    sigs = sigs.join(have, ["doc_id", "signature"], "left_anti")
                sigs.write.mode("append").parquet(sig_dir)
            if ivf_index is not None and ann_store_dir:
                # RECONCILE the ANN store from the flat store instead of
                # appending this batch's rows directly: the two appends are not
                # atomic, so a failure between them followed by a Structured
                # Streaming batch retry would otherwise diverge the sinks
                # forever (the flat sink is idempotent via the content-id
                # anti-join above — a retried batch produces an empty `fresh`).
                # Appending flat-minus-ann rows makes the ANN leg idempotent
                # AND self-healing: any earlier partial failure is repaired on
                # the next batch. Cost is an id anti-join per batch; at real
                # scale, key the reconcile on recent batch ids instead.
                spark_b = batch_df.sparkSession
                flat_vecs = spark_b.read.parquet(store_dir).select("id", "embedding")
                try:
                    have = spark_b.read.parquet(ann_store_dir).select("id")
                    missing = flat_vecs.join(have, "id", "left_anti")
                except Exception:  # first batch: ANN store doesn't exist yet
                    missing = flat_vecs
                ivf_index.append_partitioned(missing, ann_store_dir)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


#: A compaction lock older than this is presumed crashed and may be broken.
#: Real compactions are seconds; an hour leaves a wide margin for GC pauses.
COMPACTION_LOCK_GRACE_SECS = 3600.0


def _compaction_lock_path(sig_dir: str) -> str:
    return sig_dir.rstrip("/") + "__lock"


def compaction_lock_is_fresh(
    sig_dir: str, grace: float = COMPACTION_LOCK_GRACE_SECS
) -> bool:
    """True if a live compaction currently owns the store's temp dirs."""
    import os
    import time

    try:
        return (time.time() - os.path.getmtime(_compaction_lock_path(sig_dir))) < grace
    except OSError:
        return False


def _break_stale_lock(sig_dir: str, grace: float = COMPACTION_LOCK_GRACE_SECS) -> bool:
    """Remove a STALE lock without ever disturbing a fresh one. The lock
    file is snapshotted via a hardlink (the original never moves, so a
    fresh lock can never be 'stolen' and need restoring — the hazard a
    rename-based claim has), staleness is verified on the snapshot, and
    the lock path is unlinked only while it is still the same inode as the
    stale snapshot. unlink-then-recreate without the identity check is NOT
    safe: two breakers could both unlink, the second deleting the first
    winner's brand-new live lock. A microscopic TOCTOU window remains
    between the inode compare and the unlink (it needs a crashed-stale
    holder AND a sub-microsecond re-acquisition landing on a recycled
    inode); the owner-checked release in compact_signature_store bounds
    the damage of that window to one spurious in-progress error. Returns
    True if a stale lock was removed."""
    import os
    import time
    import uuid as _uuid

    lock = _compaction_lock_path(sig_dir)
    claim = f"{lock}.stale-{_uuid.uuid4().hex}"
    try:
        os.link(lock, claim)  # snapshot identity; the lock path stays put
    except OSError:
        return False  # gone already, or filesystem without hardlinks
    try:
        if (time.time() - os.path.getmtime(claim)) < grace:
            return False  # fresh after all (raced a new holder): leave it
        same = False
        try:
            same = os.stat(lock).st_ino == os.stat(claim).st_ino
        except OSError:
            same = False
        if same:
            os.unlink(lock)
            return True
        return False  # a new holder replaced it between link and stat
    finally:
        try:
            os.unlink(claim)
        except OSError:
            pass


def wait_for_compaction(sig_dir: str, timeout: float = 120.0, poll: float = 0.25) -> None:
    """Block while a fresh compaction lock is held (compactions run in
    seconds; the timeout is generous). Raises RuntimeError rather than
    proceeding if the lock is still fresh after `timeout` — racing the swap
    could rmtree the compactor's live output or strand this batch's
    signature append in the discarded ``__old`` dir."""
    import time

    deadline = time.monotonic() + timeout
    while compaction_lock_is_fresh(sig_dir):
        if time.monotonic() > deadline:
            raise RuntimeError(
                f"compaction lock on {sig_dir} still held after {timeout}s"
            )
        time.sleep(poll)


def recover_signature_store(sig_dir: str) -> None:
    """Crash recovery for compact_signature_store's two-rename swap: if a
    previous compaction died between the renames, the data lives under
    ``<sig_dir>__old`` and sig_dir is missing — restore it so the next
    batch's probe doesn't silently restart dedup history. Leftover temp
    dirs from any crash point are removed. Idempotent; call before reading
    OR compacting (stream_ingest's probe does).

    Concurrency: while a FRESH compaction lock exists, this is a no-op —
    the temp dirs belong to a live compactor and deleting its
    ``__compacting`` output mid-swap would corrupt the compaction. Only a
    stale lock (crashed compactor, older than the grace period) is broken
    and cleaned up here."""
    import os
    import shutil

    if compaction_lock_is_fresh(sig_dir):
        return
    old = sig_dir.rstrip("/") + "__old"
    tmp = sig_dir.rstrip("/") + "__compacting"
    if not os.path.isdir(sig_dir) and os.path.isdir(old):
        os.rename(old, sig_dir)
    for leftover in (old, tmp):
        if os.path.isdir(leftover):
            shutil.rmtree(leftover)
    if os.path.exists(_compaction_lock_path(sig_dir)):
        # stale by the freshness check above; break it atomically (a bare
        # unlink could delete a racing compactor's just-created fresh lock)
        _break_stale_lock(sig_dir)


def compact_signature_store(spark: SparkSession, sig_dir: str, target_files: int = 8) -> int:
    """Maintenance pass for the near-dup signature store: each streaming
    batch appends one small parquet file, so a long-lived sig_dir becomes a
    many-tiny-files read on every batch's probe. Rewrites the store as
    ``target_files`` files with duplicate (doc_id, signature) rows
    collapsed — the same key the append path anti-joins on, so a revised
    document's new signature survives while identical redeliveries stay
    single-row — via a write-then-swap. The swap's crash window is healed
    by recover_signature_store (run first here and by every probe): a kill
    between the two renames leaves the data under __old, never loses it.
    Returns the deduplicated row count.

    Concurrency contract: a lock file (``<sig_dir>__lock``) is held for the
    duration — concurrent compactions fail fast, and a concurrent
    stream_ingest batch waits for it (see the probe path) so it can never
    rmtree the live ``__compacting`` dir. A batch that raced ahead of the
    lock and appended signature files between this function's read-snapshot
    and the swap is still safe: after the swap, the old dir is re-listed
    and any part files NOT in the snapshot are moved into the compacted
    store before the old dir is removed — lost dedup history would
    otherwise silently re-admit duplicates."""
    import os
    import shutil

    recover_signature_store(sig_dir)
    if not os.path.isdir(sig_dir):
        return 0
    lock = _compaction_lock_path(sig_dir)
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        if compaction_lock_is_fresh(sig_dir):
            raise RuntimeError(f"compaction already in progress for {sig_dir}")
        _break_stale_lock(sig_dir)  # atomic: only one breaker wins
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            # another process won the post-break acquisition
            raise RuntimeError(f"compaction already in progress for {sig_dir}") from None
    import uuid as _uuid

    token = f"{os.getpid()}:{_uuid.uuid4().hex}"
    os.write(fd, token.encode())
    os.close(fd)
    try:
        with scope(spark) as s:
            snapshot = set(os.listdir(sig_dir))
            # pin rows before the source dir is swapped away
            sigs = s.checkpoint(
                spark.read.parquet(sig_dir)
                .dropDuplicates(["doc_id", "signature"])
                .repartition(target_files)
            )
            n = sigs.count()
            tmp = sig_dir.rstrip("/") + "__compacting"
            sigs.write.mode("overwrite").parquet(tmp)
            old = sig_dir.rstrip("/") + "__old"
            os.rename(sig_dir, old)
            os.rename(tmp, sig_dir)
            # Rescue signature files appended after the read snapshot. Rows
            # from a file committed between the listdir snapshot and the Spark
            # read's own listing may ALREADY be in the compacted output, so
            # late files are re-read and anti-joined on the store key before
            # appending — moving the raw files in would double those rows and
            # quietly break the store's distinct-(doc_id, signature) invariant.
            late = [
                os.path.join(old, f)
                for f in os.listdir(old)
                if f not in snapshot and f.startswith("part-") and f.endswith(".parquet")
            ]
            n_late = 0
            if late:
                fresh_rows = s.checkpoint(  # pin before old is removed
                    spark.read.parquet(*late)
                    .dropDuplicates(["doc_id", "signature"])
                    .join(
                        spark.read.parquet(sig_dir).select("doc_id", "signature"),
                        ["doc_id", "signature"],
                        "left_anti",
                    )
                )
                n_late = fresh_rows.count()
                if n_late:
                    fresh_rows.write.mode("append").parquet(sig_dir)
            shutil.rmtree(old)
            return n + n_late
    finally:
        # owner-checked release: if THIS holder stalled past the grace
        # period, a second compactor may have broken the stale lock and
        # created its own — an unconditional unlink here would delete that
        # live lock and re-open the concurrent-compaction hole. Only the
        # process whose token is in the file releases it.
        try:
            with open(lock, "r") as fh:
                if fh.read() == token:
                    os.unlink(lock)
        except OSError:
            pass



def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    window: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type over a stream.

    State is bounded by the watermark: rows later than `watermark` behind the
    max seen event time are dropped and their windows finalized."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
