"""``sources.catalog.load_table`` reads a local parquet file's schema from
its footer: the result must equal Spark's own inference (schema and rows)
for every committed table and for files written here, types outside the
footer allow-list must take the inference fallback, a footer load must
run no Spark job, and a file rewritten in place must be read with its new
schema."""

from __future__ import annotations

import datetime
import decimal
import glob
import os
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from backend_big_data_spark.sources import catalog
from tests.conftest import SF_ORACLE, SF_SMALL

DATA = str(Path(__file__).resolve().parent / "data")

_TS = [datetime.datetime(2024, 1, 1, 12, 0, 0, 123456), None]


def _committed():
    return [
        p
        for d in (SF_SMALL, SF_ORACLE, DATA)
        for p in sorted(glob.glob(os.path.join(d, "*.parquet")))
    ]


def _rows(df):
    return [repr(tuple(r)) for r in df.collect()]


def _inferred_load(spark, sf_dir, name, monkeypatch):
    """``load_table`` with the footer route switched off."""
    with monkeypatch.context() as m:
        m.setattr(catalog, "_footer_schema", lambda spark, path: None)
        return catalog.load_table(spark, sf_dir, name)


def _assert_same_load(spark, path, monkeypatch):
    sf_dir, name = os.path.dirname(path), Path(path).stem
    got = catalog.load_table(spark, sf_dir, name)
    want = _inferred_load(spark, sf_dir, name, monkeypatch)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    footer = catalog._footer_schema(spark, path)
    if footer is not None:
        raw = spark.read.parquet(path)
        assert spark.read.schema(footer).parquet(path).schema == raw.schema
    return footer


@pytest.mark.parametrize("path", _committed(), ids=lambda p: p.split("testdata/")[-1])
def test_committed_tables_match_inference(spark, path, monkeypatch):
    _assert_same_load(spark, path, monkeypatch)


#: name → (arrow table, write options, takes the footer route)
_WRITTEN = {
    "us_utc": (pa.table({"t": pa.array(_TS, pa.timestamp("us", tz="UTC"))}), {}, True),
    "us_naive": (pa.table({"t": pa.array(_TS, pa.timestamp("us"))}), {}, True),
    "ns": (pa.table({"t": pa.array(_TS, pa.timestamp("ns"))}), {}, False),
    "int96": (
        pa.table({"t": pa.array(_TS, pa.timestamp("us"))}),
        {"use_deprecated_int96_timestamps": True},
        False,
    ),
    "uint32": (pa.table({"u": pa.array([1, 2**32 - 1], pa.uint32())}), {}, False),
    "dictionary": (
        pa.table({"s": pa.array(["a", "b", "a"]).dictionary_encode()}),
        {},
        False,
    ),
    "list_float": (
        pa.table({"l": pa.array([[1.0, 2.5], None, []], pa.list_(pa.float32()))}),
        {},
        True,
    ),
    "decimal": (
        pa.table({"d": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(10, 2))}),
        {},
        True,
    ),
    "date": (
        pa.table({"d": pa.array([datetime.date(2020, 1, 2), None], pa.date32())}),
        {},
        True,
    ),
    "scalars": (
        pa.Table.from_arrays(
            [
                pa.array([1, 2], pa.int64()),
                pa.array([1, None], pa.int8()),
                pa.array([True, None], pa.bool_()),
                pa.array(["x", None], pa.large_string()),
                pa.array([{"a": 1, "b": "z"}, None], pa.struct({"a": pa.int32(), "b": pa.string()})),
            ],
            schema=pa.schema(
                [
                    pa.field("k", pa.int64(), nullable=False),
                    pa.field("i8", pa.int8()),
                    pa.field("b", pa.bool_()),
                    pa.field("s", pa.large_string()),
                    pa.field("st", pa.struct({"a": pa.int32(), "b": pa.string()})),
                ]
            ),
        ),
        {},
        True,
    ),
}


@pytest.fixture
def nanos_as_long(spark):
    """TIMESTAMP(NANOS) is readable only as raw longs; ``load_table`` sets
    this for ``events`` (and it sticks to the session), so pin it here
    for the ns cases whatever ran first."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    spark.conf.set(key, "true")
    yield
    spark.conf.set(key, before)


@pytest.mark.parametrize("case", sorted(_WRITTEN))
def test_written_files_match_inference(spark, tmp_path, case, monkeypatch, nanos_as_long):
    table, options, footer_route = _WRITTEN[case]
    path = str(tmp_path / "t.parquet")
    pq.write_table(table, path, **options)
    footer = _assert_same_load(spark, path, monkeypatch)
    assert (footer is not None) == footer_route


@pytest.mark.parametrize("ntz", ["true", "false"])
def test_naive_timestamps_follow_the_ntz_conf(spark, tmp_path, ntz):
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    path = str(tmp_path / "t.parquet")
    pq.write_table(_WRITTEN["us_naive"][0], path)
    before = spark.conf.get(key)
    spark.conf.set(key, ntz)
    try:
        footer = catalog._footer_schema(spark, path)
        assert footer == spark.read.parquet(path).schema
    finally:
        spark.conf.set(key, before)


def test_ns_events_take_the_fallback(spark, tmp_path, monkeypatch):
    """The NANOS ``events.ts`` generation: inference reads raw longs and
    ``load_table`` truncates them to µs timestamps."""
    path = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": pa.array(_TS, pa.timestamp("ns"))}),
        path,
    )
    assert catalog._footer_schema(spark, path) is None
    df = catalog.load_table(spark, str(tmp_path), "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    assert _rows(df) == _rows(_inferred_load(spark, str(tmp_path), "events", monkeypatch))


def test_spark_written_files_take_the_fallback(spark, tmp_path, monkeypatch):
    """A Spark-written ``x.parquet`` directory is not a local file; one of
    its part files carries Spark's row metadata, whose field metadata only
    Spark's inference restores."""
    spark.range(5).selectExpr("id", "cast(id as string) s").withMetadata(
        "id", {"comment": "row id"}
    ).coalesce(1).write.parquet(str(tmp_path / "x.parquet"))
    part = glob.glob(str(tmp_path / "x.parquet" / "part-*.parquet"))[0]
    shutil.copy(part, tmp_path / "y.parquet")
    for name in ("x", "y"):
        path = catalog.table_path(str(tmp_path), name)
        assert _assert_same_load(spark, path, monkeypatch) is None


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "catalog loads")
    try:
        for name in catalog.TABLES:
            fn(name).schema
        return sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_catalog_load_runs_no_job(spark, monkeypatch):
    footer = _jobs_in_group(
        spark, "catalog-footer", lambda n: catalog.load_table(spark, SF_SMALL, n)
    )
    assert footer == []
    inferred = _jobs_in_group(
        spark,
        "catalog-inferred",
        lambda n: _inferred_load(spark, SF_SMALL, n, monkeypatch),
    )
    assert len(inferred) == len(catalog.TABLES)  # the counter sees jobs


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int32())}), path)
    first = catalog.load_table(spark, str(tmp_path), "t")
    assert first.schema.simpleString() == "struct<a:int>"
    assert sorted(r.a for r in first.collect()) == [1, 2]
    pq.write_table(
        pa.table({"a": ["x", "y", "z"], "b": pa.array([0.5, 1.5, 2.5])}), path
    )
    second = catalog.load_table(spark, str(tmp_path), "t")
    assert second.schema.simpleString() == "struct<a:string,b:double>"
    assert sorted(tuple(r) for r in second.collect()) == [
        ("x", 0.5),
        ("y", 1.5),
        ("z", 2.5),
    ]
