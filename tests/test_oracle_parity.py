"""Mirror of the driver's correctness gate: every registered query runs on
Spark AND its DuckDB oracle, compared order-insensitively with columns
sorted by name — rows, schema-ish (column names), and exact values.

Runs at sf0.001 for speed; the driver repeats this at sf0.01.
"""

from __future__ import annotations

import datetime
import decimal
import math

import pytest

from backend_big_data_spark.plans.all_plans import ORACLES, QUERIES
from tests.conftest import SF_SMALL


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _table(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in idx) for r in rows]
    out.sort(key=repr)
    return [cols[i] for i in idx], out


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark, duck):
    sdf = QUERIES[name](spark, SF_SMALL)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    s_cols, s_rows = _table(scols, srows)
    d_cols, d_rows = _table(dcols, drows)
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} (spark) vs {len(d_rows)} (duckdb)"
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} mismatching rows; cols={s_cols}; "
        f"first: spark={mismatches[0][1]} duckdb={mismatches[0][2]}"
    )


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(name, spark):
    df = QUERIES[name](spark, SF_SMALL)
    assert df.columns
    assert df.count() >= 0


def test_no_oracle_emits_hugeint(duck):
    """DuckDB SUM over INTEGER returns HUGEINT, which pandas widens to
    float64/object while Spark emits BIGINT — a silent value-hash mismatch
    at the external gate. This bit three separate queries across rounds
    (events_daily_pivot, photo_top_owners, photo_owner_profiles); every
    oracle must CAST such aggregates to BIGINT."""
    offenders = {}
    for name, sql in sorted(ORACLES.items()):
        desc = duck.execute(f"DESCRIBE ({sql.rstrip().rstrip(';')})").fetchall()
        huge = [(c, t) for c, t, *_ in desc if t in ("HUGEINT", "UHUGEINT")]
        if huge:
            offenders[name] = huge
    assert not offenders, (
        f"oracles with HUGEINT output columns (CAST ... AS BIGINT): {offenders}"
    )


def test_registration_rejects_hugeint_oracle():
    """The oracle sweep (``validate_oracles``, run by this tier and by
    ``tools/driver_sim.py``) rejects an oracle whose output widens to
    HUGEINT (uncast SUM over INTEGER)."""
    from backend_big_data_spark.plans.registry import validate_oracles

    with pytest.raises(ValueError, match="HUGEINT"):
        validate_oracles(
            {"_bad_hugeint_oracle": "SELECT SUM(p_size) AS s FROM part"}
        )


def test_registration_rejects_untypecheckable_oracle():
    from backend_big_data_spark.plans.registry import validate_oracles

    with pytest.raises(ValueError, match="type-check"):
        validate_oracles({"_bad_sql_oracle": "SELECT nope_col FROM part"})


def test_every_registered_oracle_type_checks():
    """The sweep passes over every registration (all of them carry an
    oracle)."""
    from backend_big_data_spark.plans.registry import validate_oracles

    assert set(ORACLES) == set(QUERIES)
    validate_oracles()


def test_importing_the_plans_needs_no_duckdb():
    """Registration records the oracle only: a serving process that
    imports every plan never loads DuckDB."""
    import subprocess
    import sys

    code = (
        "import sys, backend_big_data_spark.plans.all_plans; "
        "print('duckdb' in sys.modules)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "False"


def test_driver_sim_stops_before_spark_on_a_bad_oracle(monkeypatch):
    import importlib.util
    from pathlib import Path

    from backend_big_data_spark import session
    from backend_big_data_spark.plans import registry

    path = Path(__file__).resolve().parents[1] / "tools" / "driver_sim.py"
    spec = importlib.util.spec_from_file_location("driver_sim", path)
    driver_sim = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(driver_sim)

    def no_spark(*a, **k):
        raise AssertionError("Spark started before the oracle sweep")

    monkeypatch.setattr(session, "get_spark", no_spark)
    monkeypatch.setitem(
        registry.ORACLES, "_bad_hugeint_oracle", "SELECT SUM(p_size) AS s FROM part"
    )
    monkeypatch.setattr("sys.argv", ["driver_sim.py"])
    assert driver_sim.main() == 1
