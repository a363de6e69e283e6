"""The one owner of intermediates: what the engine materializes, and when
each piece is released.

Spark inlines CTEs and lazy frames, so a relation read by several
consumers re-runs its producing pipeline per consumer unless it is
materialized. Every such intermediate in the package is made here, in one
of two ways.

**Owned by a scope.** Inside ``with scope(spark) as s:`` a caller makes

- ``s.checkpoint(df)``: an eager ``localCheckpoint``;
- ``s.relation(df, prefix)``: ``materialize_relation`` (size-ruled, below);
- ``s.view(df, prefix)``: a temp view under the unique name
  ``<prefix>_<12 hex>``;
- ``s.memory_sink(df, prefix, mode)``: an availableNow streaming query
  into a memory sink, under a unique query name.

When the block exits, normally or by an exception, the scope releases all
of them, newest first: it stops its queries and drops their sink views,
drops its views (a plan already analyzed keeps the relation it resolved,
so frames built over a view stay valid), and frees its relations through
``release_relation``. ``s.release(df)`` frees one relation early, e.g. a
checkpoint an eager successor superseded; ``s.keep(df)`` hands one to the
caller instead.

**Handed to the caller.** A relation that the function's *returned* frame
reads cannot be freed when the function returns. It is made with the
unowned ``checkpoint(df)`` or ``materialize_relation(df, prefix)``, and the
caller that holds the frame releases it with ``release_relation``
(``ChatPipeline.close`` and ``TieredStore.close`` do) or leaves it to the
ContextCleaner. The IVF runners' store directories are the directory form
of this rule: ``staged_tempdir`` makes them where ``tempfile.mkdtemp``
puts them and enters them in the process staging ledger, so
``cleanup_staging`` removes them at interpreter exit, not when the runner
returns.

Two raw ``localCheckpoint`` calls remain outside this module, on purpose:

- ``queries_core.register_views`` checkpoints the spread base tables. They
  are the session's tables, read by every later query, so they live as
  long as the session.
- ``pipeline.populate_vs`` checkpoints ``deduped`` and ``embedded`` in
  place, because a traced benchmark run attributes its ingest stages to
  the line numbers of those calls. It releases both with
  ``release_relation`` after the store append.

Strategy of ``materialize_relation``, chosen by the optimizer's size
estimate (``plan_size_bytes``):

- below ``spill_bytes`` (default ``SPARK_GRAFT_MATERIALIZE_SPILL_BYTES``,
  8 GiB): ``localCheckpoint(eager=True)``. Fast, but the blocks are
  executor-local and the lineage is truncated, so losing an executor
  fails every later stage that needs them (DEPLOY.md "Recovery");
- at or above it: parquet under ``<spark.sql.warehouse.dir>/_staging/``,
  durable and re-readable by any executor, at one write and read through
  shared storage. Where the estimate is unavailable (Spark Connect) the
  fast path is used.
"""

from __future__ import annotations

import atexit
import logging
import os
import shutil
import tempfile
import uuid
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

SPILL_ENV = "SPARK_GRAFT_MATERIALIZE_SPILL_BYTES"
DEFAULT_SPILL_BYTES = 8 << 30

_STAGED_THIS_PROCESS: list[str] = []

log = logging.getLogger(__name__)


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's pre-execution size estimate for the plan, or None where
    the py4j plan handle is unavailable (e.g. Spark Connect)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def _staging_dir(spark: SparkSession) -> str:
    root = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    return root.rstrip("/") + "/_staging"


def checkpoint(df: DataFrame) -> DataFrame:
    """An eager localCheckpoint of ``df`` that no scope owns: for a relation
    the caller's returned frame reads."""
    return df.localCheckpoint(eager=True)


def materialize_relation(
    df: DataFrame,
    prefix: str,
    spill_bytes: int | None = None,
) -> DataFrame:
    """Materialize `df` once and return a re-readable DataFrame over the
    result: localCheckpoint below the spill threshold, durable parquet
    staging at or above it (see module docstring for the trade)."""
    if spill_bytes is None:
        spill_bytes = int(os.environ.get(SPILL_ENV, str(DEFAULT_SPILL_BYTES)))
    est = plan_size_bytes(df)
    if est is not None and est >= spill_bytes:
        spark = df.sparkSession
        path = f"{_staging_dir(spark)}/{prefix}_{uuid.uuid4().hex[:12]}"
        df.write.mode("overwrite").parquet(path)
        _STAGED_THIS_PROCESS.append(path)
        return spark.read.parquet(path)
    return checkpoint(df)


def staged_tempdir(prefix: str) -> str:
    """A fresh local directory (``tempfile.mkdtemp``) entered in the process
    staging ledger: ``cleanup_staging`` removes it at interpreter exit."""
    path = tempfile.mkdtemp(prefix=prefix)
    _STAGED_THIS_PROCESS.append(path)
    return path


def _local_path(p: str) -> str:
    # warehouse dirs come back as file:/x, file:///x, or bare /x
    return urlparse(p).path if p.startswith("file:") else p


def cleanup_staging(paths: list[str] | None = None) -> None:
    """Best-effort removal of staged directories (local-filesystem paths
    only; object-store deployments TTL the _staging prefix instead)."""
    for p in list(_STAGED_THIS_PROCESS if paths is None else paths):
        shutil.rmtree(_local_path(p), ignore_errors=True)
        # Drop from the process ledger however cleanup was invoked, so the
        # atexit pass never re-attempts removed paths and the module state
        # always reflects what is actually staged.
        if p in _STAGED_THIS_PROCESS:
            _STAGED_THIS_PROCESS.remove(p)


atexit.register(cleanup_staging)


def free_local_checkpoint(df) -> None:
    """Release a localCheckpoint's storage blocks. ``DataFrame.unpersist``
    frees nothing for a checkpointed plan on Spark 4 (it only clears
    CacheManager entries; getRDDStorageInfo still lists the blocks), so
    unpersist the checkpointed RDD behind the analyzed LogicalRDD. Only call
    after every read of ``df`` is complete: the lineage is truncated. Never
    raises: an analyzed plan that is not a LogicalRDD, or a changed internal
    API, is logged and falls back to ``DataFrame.unpersist``, which leaves
    the blocks to the ContextCleaner."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        cls = plan.getClass().getSimpleName()
        if cls != "LogicalRDD":
            raise TypeError(
                f"analyzed plan is {cls}, not LogicalRDD — not a "
                "localCheckpoint result")
        plan.rdd().unpersist(False)
    except Exception as e:  # noqa: BLE001 — release must never fail callers
        log.warning(
            "free_local_checkpoint: internal release path failed (%s); "
            "falling back to DataFrame.unpersist — checkpoint blocks will "
            "only be freed by the ContextCleaner on GC", e)
        try:
            df.unpersist()
        except Exception as e2:  # noqa: BLE001
            log.warning("free_local_checkpoint: fallback unpersist failed: %s", e2)


def release_relation(df: DataFrame) -> None:
    """Release what ``materialize_relation`` or ``checkpoint`` made for
    ``df``: a frame reading a directory this process staged has that
    directory removed, any other is freed as a localCheckpoint. Only call
    after every read of ``df`` is complete."""
    files = [unquote(_local_path(f)) for f in df.inputFiles()]  # URIs
    staged = [p for p in _STAGED_THIS_PROCESS
              if any(f.startswith(_local_path(p).rstrip("/") + "/") for f in files)]
    if staged:
        cleanup_staging(staged)
    else:
        free_local_checkpoint(df)


class scope:  # noqa: N801 — used as ``with scope(spark) as s:``
    """Owns the intermediates made through it and releases them on exit
    (module docstring). Not shared between threads."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._owned: list[tuple[str, object]] = []  # (kind, handle), oldest first

    def checkpoint(self, df: DataFrame) -> DataFrame:
        return self._own("relation", checkpoint(df))

    def relation(self, df: DataFrame, prefix: str) -> DataFrame:
        return self._own("relation", materialize_relation(df, prefix))

    def view(self, df: DataFrame, prefix: str) -> str:
        name = f"{prefix}_{uuid.uuid4().hex[:12]}"
        df.createOrReplaceTempView(name)
        return self._own("view", name)

    def memory_sink(self, df: DataFrame, prefix: str, output_mode: str):
        """Start ``df`` as an availableNow query into a memory sink named
        ``<prefix>_<12 hex>``; returns (query, sink view name). The caller
        awaits it; on exit the scope stops it and drops the sink view."""
        name = f"{prefix}_{uuid.uuid4().hex[:12]}"
        query = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        self._own("query", (query, name))
        return query, name

    def release(self, df: DataFrame) -> None:
        """Free an owned relation now."""
        self.keep(df)
        release_relation(df)

    def keep(self, df: DataFrame) -> DataFrame:
        """Hand an owned relation to the caller: the scope no longer frees it."""
        self._owned = [(k, h) for k, h in self._owned if h is not df]
        return df

    def _own(self, kind: str, handle):
        self._owned.append((kind, handle))
        return handle

    def close(self) -> None:
        """Release everything still owned, newest first. A failed release
        is logged and the rest still run."""
        owned, self._owned = self._owned, []
        for kind, handle in reversed(owned):
            try:
                if kind == "relation":
                    release_relation(handle)
                elif kind == "view":
                    self.spark.catalog.dropTempView(handle)
                else:
                    query, name = handle
                    query.stop()
                    self.spark.catalog.dropTempView(name)
            except Exception as e:  # noqa: BLE001 — never mask the block's own error
                log.warning("scope: releasing %s %r failed: %s", kind, handle, e)

    def __enter__(self) -> scope:
        return self

    def __exit__(self, *exc) -> None:
        self.close()
