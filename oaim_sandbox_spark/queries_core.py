"""Registry core: table catalog, view registration, and dialect shims.

Shared by every family module (queries_relational / _training / _dedup /
_textstats / _registry / _extended) and re-exported through
oaim_sandbox_spark.queries. Conventions that make the driver's hash-compare
robust (see the assembly module's docstring): round(x, 6) floats, DECIMAL
money sums, `ts_us` epoch-micros event time, unique-key ORDER BY tiebreaks,
explicit aggregate casts.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from oaim_sandbox_spark.functions import portable as P
from oaim_sandbox_spark.operators import text_analysis as TA
from oaim_sandbox_spark.operators.ann import hyperplane_expr
from oaim_sandbox_spark.operators.dedup import _band_concat
from oaim_sandbox_spark.operators.retrieval import distance_expr, score_expr

ALL_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

EMBED_DIM = 64  # driver testdata embeddings are 64-dim


def _ts_us_col(df: DataFrame):
    """Epoch-micros BIGINT expression for events.ts, dispatched on the ACTUAL
    column type: int64 (nanos, via nanosAsLong) -> div 1000; timestamp /
    timestamp_ntz (micros parquet) -> unix_micros under the UTC session tz.
    DuckDB's epoch_us(ts) treats naive timestamps as UTC, so both engines
    agree by construction."""
    from pyspark.sql import functions as F

    t = df.schema["ts"].dataType.simpleString()
    if t in ("bigint", "long"):
        return F.expr("ts div 1000").cast("long")
    return F.unix_micros(F.col("ts").cast("timestamp"))


def events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet with a normalized epoch-micros `ts_us` BIGINT column,
    whatever the physical ts encoding (timestamp[us]/[ns] or int64 nanos)."""
    # harmless for micros parquet; required to read TIMESTAMP(NANOS) at all
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # NTZ -> epoch micros goes through the session tz; DuckDB's epoch_us
    # treats naive timestamps as UTC, so pin it (vanilla driver sessions
    # inherit the JVM tz, whatever that is)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    return df.withColumn("ts_us", _ts_us_col(df))


_EVENTS_SCHEMA_CACHE: "weakref.WeakKeyDictionary[SparkSession, tuple[str, object]]" = None  # type: ignore[assignment]


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming twin of events_batch: availableNow file source
    over sf_dir (pathGlobFilter=events.parquet), schema taken from the
    parquet footer, with the same normalized `ts_us` column.

    The footer-derived schema is cached per (session, sf_dir) — r14 opt:
    each of the ten streaming entries paid a ~0.2s driver-side
    `spark.read.parquet().schema` round-trip for the SAME file's footer
    (the same redundant-footer-read class _VIEWS_STATE already removes for
    batch views). A schema is metadata, not data — results are untouched."""
    global _EVENTS_SCHEMA_CACHE
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if _EVENTS_SCHEMA_CACHE is None:
        import weakref

        _EVENTS_SCHEMA_CACHE = weakref.WeakKeyDictionary()
    cached = _EVENTS_SCHEMA_CACHE.get(spark)
    if cached is not None and cached[0] == sf_dir:
        schema = cached[1]
    else:
        schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
        _EVENTS_SCHEMA_CACHE[spark] = (sf_dir, schema)
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return stream.withColumn("ts_us", _ts_us_col(stream))


# (session -> (sf_dir, registered table names)): registering the same tables
# for the same sf_dir in the same session is a no-op — a registry sweep
# calls register_views once per query, and the redundant per-call
# spark.read.parquet footer reads are pure driver-side overhead. Keyed
# WEAKLY on the SparkSession object itself: temp views are per-SESSION, so
# an applicationId key would make spark.newSession() (shares the appId, has
# its OWN view catalog) see phantom registrations. Switching sf_dir
# invalidates (the view NAMES are shared across SFs).
_VIEWS_STATE: "weakref.WeakKeyDictionary[SparkSession, tuple[str, frozenset]]" = None  # type: ignore[assignment]


# Tables whose consumers are per-row compute-heavy (explodes, HOF hash
# pipelines, vector math) or numerous enough that a single-partition scan
# serializes a whole query family (events: ~40 window/sessionization/funnel
# queries ran single-core against the one-file local parquet). The testdata
# parquet is ONE file with ONE row group per table, so a plain scan gives
# Spark exactly one partition and the whole narrow pipeline runs on a
# single core (measured: minhash_signatures 3.1 s -> 0.6 s at sf0.1 once
# spread). A real 100 TB table arrives as many files/row-groups and gets
# this parallelism for free; the one-time repartition+localCheckpoint below
# recreates it without adding an Exchange to any query plan (the
# checkpointed relation IS 32-way partitioned).
_SPREAD_TABLES = frozenset({"documents", "embeddings", "events"})


def register_views(spark: SparkSession, sf_dir: str, tables=ALL_TABLES) -> None:
    """Register sf_dir parquet tables as temp views. The events view carries
    an extra normalized `ts_us` (epoch-micros BIGINT) column so query SQL is
    independent of the physical ts encoding. Idempotent per (session,
    sf_dir): repeat calls skip the re-read."""
    global _VIEWS_STATE
    if _VIEWS_STATE is None:
        import weakref

        _VIEWS_STATE = weakref.WeakKeyDictionary()
    want = frozenset(tables)
    cur = _VIEWS_STATE.get(spark)
    if cur is not None and cur[0] == sf_dir and want <= cur[1]:
        return
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if cur is not None and cur[0] != sf_dir and getattr(spark, "_oaim_cte_sizes", None):
        # the CTE materializer's Catalyst size-estimate cache is per TABLE
        # NAME; re-pointing the views at another sf_dir would leave stale
        # sizes driving its threshold (ADVICE r13 — perf-only, but silent)
        spark._oaim_cte_sizes = {}
    if cur is not None and cur[0] != sf_dir:
        # sf_dir changed: every view tracked for the OLD dir must be
        # re-pointed, not just the ones in `want` — otherwise SQL that
        # references an un-requested table silently reads the previous
        # directory's data until something happens to re-register it.
        want = want | cur[1]
        prev = frozenset()
    else:
        prev = cur[1] if cur is not None else frozenset()
    # register only the MISSING tables: growing the set from {documents} to
    # ALL must not re-read (and above all not re-localCheckpoint) tables
    # already registered — the orphaned checkpoint blocks of a replaced
    # spread view stay pinned until the ContextCleaner notices
    for t in want - prev:
        df = (
            events_batch(spark, sf_dir)
            if t == "events"
            else spark.read.parquet(f"{sf_dir}/{t}.parquet")
        )
        if t in _SPREAD_TABLES:
            p = spark.sparkContext.defaultParallelism
            df = df.repartition(p).localCheckpoint(eager=True)
        df.createOrReplaceTempView(t)
    _VIEWS_STATE[spark] = (sf_dir, prev | want)


def _ts_us(dialect: str) -> str:
    """events.ts normalized to epoch-micros int64 on both engines (Spark: the
    ts_us column register_views adds; DuckDB: epoch_us on the raw column)."""
    return "ts_us" if dialect == "spark" else "epoch_us(ts)"


def _dec(e: str, p: int = 18, s: int = 2) -> str:
    return f"CAST({e} AS DECIMAL({p},{s}))"


def _epoch_day(col: str, dialect: str) -> str:
    """Exact integer epoch-day of a date/timestamp column. Parquet date-ish
    columns surface as TIMESTAMP_NTZ on Spark; unix_micros needs TIMESTAMP,
    and under the UTC session tz the cast is the identity DuckDB's epoch_us
    already applies to naive stamps. ONE definition — review r13c found
    three verbatim copies (order_to_ship_latency, _rfm_cust_sql,
    ship_latency_trend); the emitted string is unchanged so certified
    query text is identical."""
    if dialect == "spark":
        return f"CAST(unix_micros(CAST({col} AS TIMESTAMP)) div 86400000000 AS BIGINT)"
    return f"(epoch_us({col}) // 86400000000)"


def _elem(arr: str, i: int, dialect: str) -> str:
    """1-based array element access."""
    return f"element_at({arr}, {i})" if dialect == "spark" else f"({arr})[{i}]"


def _dim_idx(dialect: str, n: int | None = None) -> str:
    """The 1..EMBED_DIM embedding-dimension index relation (the fixed pivot
    every per-dimension embedding audit joins through). One definition —
    review r9b found four verbatim copies across templates."""
    n = EMBED_DIM if n is None else n
    return (
        f"SELECT explode(sequence(1, {n})) AS i"
        if dialect == "spark"
        else f"SELECT unnest(generate_series(1, {n})) AS i"
    )


def _str(e: str, dialect: str) -> str:
    """String cast — delegates to the shared portable.str_cast helper."""
    return P.str_cast(e, dialect)


def _idiv(a: str, b: str, dialect: str) -> str:
    """Integer (floor-toward-zero) division — both operands int64."""
    return f"({a} div {b})" if dialect == "spark" else f"({a} // {b})"
