"""Table catalog over the driver-provided parquet test tables.

Reference source surface (SURVEY.md §2.1): one explicit-schema JSON scan
cached whole (``main.py:142-148``). The new engine generalizes that to a
parquet catalog: explicit paths, columnar scans with pushdown/pruning, and
optional persisted hot tables registered as SQL views.

Scale notes: parquet scans here get predicate pushdown and column pruning
from Catalyst for free — every query should ``select`` only what it needs so
``ReadSchema`` stays narrow. At 100 TB the hot tables would additionally be
partitioned on their dominant filter column (e.g. ``orders`` by
``year(o_orderdate)``) for partition pruning; the loader API is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.storagelevel import StorageLevel

#: All tables the harness provides (TESTDATA.md).
TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Tables worth repartitioning before caching (the fact/compute-heavy side).
#: Dimension tables stay single-partition — they broadcast anyway.
_BIG_TABLES = ("customer", "part", "orders", "lineitem", "events", "documents", "embeddings")

#: (app-id, sf_dir, table) → persisted DataFrame. Populated by
#: ``warm_cache``; ``load_table`` serves from it when present. Keyed on
#: ``applicationId`` — a session-lifetime token — not ``id(spark)``, which
#: CPython may reuse for a new session after the old one is stopped,
#: leaving dangling DataFrames bound to a dead context.
_HOT_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _session_key(spark: SparkSession) -> str:
    return spark.sparkContext.applicationId


#: application ids whose timezone override has already been logged
_TZ_WARNED: set[str] = set()


def ensure_utc_session(spark: SparkSession) -> None:
    """THE timezone pin point for the catalog. The engine's own sessions
    already pin UTC at construction (``session.get_spark``); an external
    session (the round driver's, a notebook's) may not, and the NTZ→LTZ
    casts in ``load_table`` are wall-clock-preserving only under UTC — so a
    different zone is overridden here, loudly and exactly once per session
    rather than silently on every cache miss."""
    current = spark.conf.get("spark.sql.session.timeZone", None)
    if current == "UTC":
        return
    app_id = _session_key(spark)
    if app_id not in _TZ_WARNED:
        _TZ_WARNED.add(app_id)
        import warnings

        warnings.warn(
            f"catalog requires spark.sql.session.timeZone=UTC for "
            f"deterministic timestamp semantics; overriding {current!r} "
            f"for session {app_id}",
            stacklevel=3,
        )
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def clear_cache(spark: SparkSession | None = None) -> None:
    """Unpersist and evict hot tables — all of them, or one session's.

    A long-lived serving process swapping corpora calls this to release
    executor memory; it is also the test-teardown hook.
    """
    key = None if spark is None else _session_key(spark)
    for (app_id, _, _), df in list(_HOT_CACHE.items()):
        if key is not None and app_id != key:
            continue
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped; nothing to release
    if key is None:
        _HOT_CACHE.clear()
    else:
        for k in [k for k in _HOT_CACHE if k[0] == key]:
            del _HOT_CACHE[k]


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Footer key under which Spark records the schema it wrote. Such files
#: can carry Spark-only types (char/varchar, field metadata), so Spark's
#: own inference reads them.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_type_ok(t) -> bool:
    """Arrow types that ``from_arrow_schema`` maps to the same Spark type
    as Spark's parquet inference: signed ints, floats, bool, strings,
    date, decimal128, µs timestamps, and lists/structs of those. Other
    timestamp units (NANOS, INT96 read as ns), unsigned ints,
    dictionaries and binary are left to Spark."""
    import pyarrow as pa

    if pa.types.is_timestamp(t):
        return t.unit == "us"
    if pa.types.is_list(t):
        return _footer_type_ok(t.value_type)
    if pa.types.is_struct(t):
        return all(_footer_type_ok(t.field(i).type) for i in range(t.num_fields))
    return (
        pa.types.is_boolean(t)
        or pa.types.is_signed_integer(t)
        or pa.types.is_float32(t)
        or pa.types.is_float64(t)
        or pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_date32(t)
        or pa.types.is_decimal128(t)
    )


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """Spark schema of a local parquet file read from its footer on the
    driver (under a millisecond), or None where Spark's own
    inference must decide: not a local file, an unreadable footer, a
    Spark-written file, or a type outside :func:`_footer_type_ok`."""
    if not os.path.isfile(path):
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    try:
        arrow = pq.read_schema(path)
    except (OSError, pa.ArrowException):
        return None
    if _SPARK_ROW_METADATA in (arrow.metadata or {}):
        return None
    if not all(_footer_type_ok(f.type) for f in arrow):
        return None
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
    return from_arrow_schema(arrow, prefer_timestamp_ntz=ntz)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one table. Filters/projections applied by callers
    push down into this scan (verify with ``df.explain`` → PushedFilters).

    Schema resolution: a local parquet file's schema is read from its
    footer on the driver (pyarrow ``read_schema`` → ``from_arrow_schema``,
    timestamps without a zone as TIMESTAMP_NTZ exactly when
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` says so) and passed to
    the reader, so a load runs no Spark job. The footer is read on every
    call: a file rewritten in place is read with its new schema. Spark's
    own inference (one job per call) is the fallback for any path that is
    not a local file and for files whose types the footer route does not
    map identically (:func:`_footer_schema`).

    Timestamp normalization: the harness parquet has carried ``events.ts``
    as TIMESTAMP(NANOS) in one generation (vectorized reader rejects it —
    read as raw nanos + integer-truncate to µs, matching DuckDB's ns→µs
    truncation) and as untagged TIMESTAMP(MICROS) (``isAdjustedToUTC=false``
    → TIMESTAMP_NTZ under Spark 4's NTZ inference) in another. Every NTZ
    column is cast to session-tz TIMESTAMP under a pinned-UTC session: the
    wall-clock value is unchanged, downstream ``year()/hour()/unix_micros``
    all type-check, and DuckDB's naive-timestamp oracle semantics are
    preserved bit-for-bit.
    """
    # NTZ→LTZ is wall-clock-preserving only under a fixed UTC session zone —
    # ensure it on EVERY call (hit or miss), before the cache lookup, so the
    # session ends up in the same state on both paths.
    ensure_utc_session(spark)
    cached = _HOT_CACHE.get((_session_key(spark), sf_dir, name))
    if cached is not None:
        return cached
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, name)
    schema = _footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    if name == "events" and df.schema["ts"].dataType.simpleString() == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for f in df.schema.fields:
        if f.dataType.simpleString() == "timestamp_ntz":
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def warm_cache(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Load → repartition → persist → materialize every table, after which
    ``load_table`` serves the cached DataFrames for this (session, sf_dir).

    This is the reference's serving architecture made explicit
    (``main.py:147-148``: whole dataset cached and eagerly counted at
    startup, every query scanning the InMemoryRelation). Locally it also
    buys scan parallelism the files can't provide (single parquet row group
    ⇒ one scan task no matter the split size); the repartition spreads the
    in-memory columnar batches across all cores. At 100 TB you would cache
    only hot tables — the API takes an explicit table list for that reason.
    """
    for name in names:
        key = (_session_key(spark), sf_dir, name)
        if key in _HOT_CACHE:
            continue
        df = load_table(spark, sf_dir, name)
        if name in _BIG_TABLES:
            df = ensure_parallelism(df)
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        _HOT_CACHE[key] = df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register each table as a temp view so ``spark.sql`` works directly —
    the SQL-string interface the reference never had (SURVEY.md §0)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def ensure_parallelism(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition for compute-bound narrow transforms.

    Small parquet files arrive as one input split, which would serialize
    expression-heavy per-row work (shingling, hashing, pandas UDFs) onto one
    core. One cheap shuffle of the raw rows buys full-cluster parallelism
    for everything downstream.

    LOCAL-MODE ONLY: on a cluster master this returns ``df`` unchanged —
    at 100 TB inputs already split ≥ core count and a blanket repartition
    of the raw rows would be a pure-cost full shuffle. The guard makes
    "keep this out of the cluster profile" structural instead of a
    calling-convention footnote. Pass ``partitions`` explicitly to force
    a repartition anywhere.
    """
    spark = df.sparkSession
    if partitions is None and not spark.sparkContext.master.startswith(
        "local"
    ):
        return df
    n = partitions or spark.sparkContext.defaultParallelism
    return df.repartition(n)


def persist_hot(df: DataFrame, eager: bool = True) -> DataFrame:
    """Hot-table persistence, the reference's ``cache()+count()`` idiom
    (``main.py:147-148``) made explicit with a disk-spillable level —
    MEMORY_AND_DISK survives tables larger than executor memory."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    if eager:
        df.count()
    return df
