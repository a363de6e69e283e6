"""Size-thresholded relation materialization.

Multi-consumer intermediate relations (a tf-idf weight table feeding norms
plus both sides of a self-join; minhash signatures feeding the band join)
must be computed ONCE — Spark inlines CTEs, so without explicit
materialization the producing pipeline re-runs per consumer.

Two materialization strategies, chosen by estimated input size:

- `localCheckpoint(eager=True)` — fast (in-memory/disk blocks on the
  executors, no shared-storage round-trip), but the blocks are
  EXECUTOR-LOCAL and non-replayable: on a real cluster, losing an executor
  after the checkpoint fails every downstream stage that needs its blocks,
  because the lineage was truncated. Fine for dim-sized relations and for
  single-JVM local mode.
- parquet staging under the Spark SQL warehouse directory — durable and
  replayable (any executor can re-read any split), at the cost of one
  write+read round-trip through shared storage. The right trade once the
  relation is big enough that recomputing it on executor loss would be
  worse than the round-trip — i.e. exactly the corpus-sized relations.

`materialize_relation` picks parquet when the optimizer's size estimate for
the plan meets `spill_bytes` (default from `SPARK_GRAFT_MATERIALIZE_SPILL_BYTES`,
8 GiB — local test SFs never trigger it; cluster deployments set it to taste,
see DEPLOY.md "Recovery"). The estimate is Catalyst's `optimizedPlan.stats.
sizeInBytes` — file-size-derived for scans, so it is a sound "corpus-sized
input?" signal even before execution. Where the JVM handle is unavailable
(Spark Connect), the estimate degrades to None and the fast path is used.

Staged parquet lives under `<spark.sql.warehouse.dir>/_staging/` and is
removed by `cleanup_staging` (called best-effort at interpreter exit for
paths staged by this process; a cluster deployment should also TTL the
directory — DEPLOY.md).
"""

from __future__ import annotations

import atexit
import os
import shutil
import uuid
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

SPILL_ENV = "SPARK_GRAFT_MATERIALIZE_SPILL_BYTES"
DEFAULT_SPILL_BYTES = 8 << 30

_STAGED_THIS_PROCESS: list[str] = []


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
    return df.localCheckpoint(eager=True)


def _local_path(p: str) -> str:
    # warehouse dirs come back as file:/x, file:///x, or bare /x
    return urlparse(p).path if p.startswith("file:") else p


def cleanup_staging(paths: list[str] | None = None) -> None:
    """Best-effort removal of staged parquet directories (local-filesystem
    paths only; object-store deployments TTL the _staging prefix instead)."""
    for p in list(_STAGED_THIS_PROCESS if paths is None else paths):
        shutil.rmtree(_local_path(p), ignore_errors=True)
        # Drop from the process ledger however cleanup was invoked, so the
        # atexit pass never re-attempts removed paths and the module state
        # always reflects what is actually staged.
        if p in _STAGED_THIS_PROCESS:
            _STAGED_THIS_PROCESS.remove(p)


atexit.register(cleanup_staging)


def free_local_checkpoint(df) -> None:
    """Actually release a localCheckpoint's storage blocks. DataFrame
    .unpersist() is a NO-OP for checkpointed plans (it only clears
    CacheManager entries; verified on Spark 4: getRDDStorageInfo still
    shows the blocks after unpersist — r11 review), so reach the
    checkpointed RDD through the analyzed LogicalRDD and unpersist THAT.
    Only call after every read of the DataFrame is complete: the lineage
    is truncated, so the data is unrecoverable afterwards. Best-effort —
    internal-API shape changes degrade to the (harmless) DataFrame
    unpersist, and the ContextCleaner still frees blocks on GC — but the
    degradation is LOGGED (ADVICE r11): silently reverting to the no-op
    unpersist lets checkpoint blocks quietly re-accumulate in long-lived
    sessions. The analyzed plan is verified to be a LogicalRDD before
    calling rdd() — any other node type means the caller didn't pass a
    localCheckpoint result and the internal path would free the wrong
    thing (or nothing)."""
    import logging

    log = logging.getLogger(__name__)
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
    """Release what ``materialize_relation`` made for ``df``, whichever
    strategy it chose: a frame reading a directory this process staged has
    that directory removed, any other is freed as a localCheckpoint. Only
    call after every read of ``df`` is complete."""
    files = [unquote(_local_path(f)) for f in df.inputFiles()]  # URIs
    staged = [p for p in _STAGED_THIS_PROCESS
              if any(f.startswith(_local_path(p).rstrip("/") + "/") for f in files)]
    if staged:
        cleanup_staging(staged)
    else:
        free_local_checkpoint(df)
