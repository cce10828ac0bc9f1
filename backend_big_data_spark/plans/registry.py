"""Registry of named queries and their DuckDB oracle SQL.

Every operator claimed done in SURVEY.md §2 appears here as a named query
``fn(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) an ANSI-SQL
oracle string with IDENTICAL output column names and, as far as types allow,
identical output types. Value parity rules used throughout:

- money/double sums go through ``decimal`` so they are order-independent
  (double addition is not associative; partial-agg order differs per run);
- averages of doubles are rounded (4-6 dp) — the mean's fp error is ~1e-10
  relative, far below the rounding grid;
- int widths are cast explicitly (year/month/hour/rank → int32) because
  Spark and DuckDB default to different widths;
- every ordering that feeds row_number/limit includes a unique tie-break key.

Registration only records the pair. :func:`validate_oracles` type-checks
every oracle against empty DuckDB tables of the driver's schemas (the
HUGEINT rule included); the default test tier and ``tools/driver_sim.py``
run it, so importing the plans needs no DuckDB.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

#: DuckDB column DDL of the driver's test tables (matches DESCRIBE over the
#: sf* parquet files). Oracle validation type-checks against EMPTY tables
#: with these schemas — no data dependency.
_TABLE_DDL = {
    "region": '"r_regionkey" INTEGER, "r_name" VARCHAR',
    "nation": '"n_nationkey" INTEGER, "n_name" VARCHAR, "n_regionkey" INTEGER',
    "customer": '"c_custkey" BIGINT, "c_name" VARCHAR, "c_nationkey" INTEGER, "c_acctbal" DOUBLE, "c_mktsegment" VARCHAR',
    "supplier": '"s_suppkey" BIGINT, "s_name" VARCHAR, "s_nationkey" INTEGER, "s_acctbal" DOUBLE',
    "part": '"p_partkey" BIGINT, "p_name" VARCHAR, "p_brand" VARCHAR, "p_type" VARCHAR, "p_size" INTEGER, "p_retailprice" DOUBLE',
    "orders": '"o_orderkey" BIGINT, "o_custkey" BIGINT, "o_orderstatus" VARCHAR, "o_totalprice" DOUBLE, "o_orderdate" TIMESTAMP, "o_orderpriority" VARCHAR',
    "lineitem": '"l_orderkey" BIGINT, "l_partkey" BIGINT, "l_suppkey" BIGINT, "l_linenumber" INTEGER, "l_quantity" DOUBLE, "l_extendedprice" DOUBLE, "l_discount" DOUBLE, "l_tax" DOUBLE, "l_returnflag" VARCHAR, "l_linestatus" VARCHAR, "l_shipdate" TIMESTAMP',
    "events": '"event_id" BIGINT, "ts" TIMESTAMP, "user_id" BIGINT, "event_type" VARCHAR, "value" DOUBLE, "props" VARCHAR',
    "documents": '"doc_id" BIGINT, "text" VARCHAR, "lang" VARCHAR, "source" VARCHAR, "n_chars" BIGINT',
    "embeddings": '"vec_id" BIGINT, "embedding" FLOAT[], "label" INTEGER',
}

_VALIDATOR = None


def _oracle_validator():
    """Lazy in-memory DuckDB holding the empty driver tables."""
    global _VALIDATOR
    if _VALIDATOR is None:
        import duckdb

        con = duckdb.connect(":memory:")
        for t, ddl in _TABLE_DDL.items():
            con.execute(f"CREATE TABLE {t} ({ddl})")
        _VALIDATOR = con
    return _VALIDATOR


def _validate_oracle(name: str, sql: str) -> None:
    """Type-check one oracle: it must parse/resolve against the driver's
    table schemas, and no output column may be HUGEINT / UHUGEINT —
    DuckDB widens SUM(INTEGER) to HUGEINT, which pandas turns into
    float64/object while Spark emits BIGINT, a silent value-hash mismatch
    at the external gate. This bit three queries across rounds
    (events_daily_pivot, photo_top_owners, photo_owner_profiles)."""
    try:
        desc = _oracle_validator().execute(
            f"DESCRIBE ({sql.rstrip().rstrip(';')})"
        ).fetchall()
    except Exception as e:  # noqa: BLE001 — surface with query name attached
        raise ValueError(
            f"oracle for {name!r} does not type-check against the driver "
            f"table schemas: {e}"
        ) from e
    huge = [(c, t) for c, t, *_ in desc if t in ("HUGEINT", "UHUGEINT")]
    if huge:
        raise ValueError(
            f"oracle for {name!r} emits HUGEINT columns {huge} — wrap the "
            f"aggregate in CAST(... AS BIGINT) so the value hash matches "
            f"Spark's BIGINT"
        )


def validate_oracles(oracles: dict[str, str] | None = None) -> None:
    """Type-check every registered oracle (or the given ``name → sql``
    mapping); raises ``ValueError`` for the first that fails
    :func:`_validate_oracle`. Run by the default test tier and at the
    start of ``tools/driver_sim.py``, never at import: a serving process
    needs neither DuckDB nor the photo fixture (the photo oracles read
    ``tests/data/photos.parquet``, so DESCRIBE touches that file)."""
    for name, sql in (ORACLES if oracles is None else oracles).items():
        _validate_oracle(name, sql)


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle=None`` means non-SQL-expressible
    (driver records a weaker rows-only check). SQL oracles are type-checked
    by :func:`validate_oracles`, not here."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
