"""Streaming KMV sidecar (`streaming/kmv_ingest.py`): merged readout
equals the single-pass sketch, replay idempotence, small-set exactness
through the merge, and the journal-style erasure recount."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from backend_big_data_spark.operators.kmv import kmv_estimate, kmv_sketch
from backend_big_data_spark.streaming.kmv_ingest import (
    kmv_ingest_sink,
    kmv_merged_readout,
    read_kmv_sidecar,
    recount_kmv_sidecar,
)

K = 8


def _df(spark, rows):
    return spark.createDataFrame(rows, "g string, v long")


def _events(n, dup_across_batches=True):
    rows = []
    for i in range(n):
        rows.append(("a", i))
        if dup_across_batches:
            rows.append(("a", i % 7))  # values recur across batches
        rows.append(("b", i % 5))
    return rows


def _sink_batches(spark, sdir, rows, n_batches=3):
    sink = kmv_ingest_sink(sdir, ["g"], F.col("v"), k=K)
    df = _df(spark, rows)
    for b in range(n_batches):
        sink(df.filter(F.col("v") % n_batches == b), b)
    return df


def _sidecar(spark, sdir):
    return read_kmv_sidecar(spark, sdir, "g string")


def _readout_map(df):
    return {r["g"]: (list(r["sketch"]), r["approx_distinct"]) for r in df.collect()}


def test_merged_readout_equals_single_pass_sketch(spark, tmp_path):
    sdir = str(tmp_path / "kmv")
    df = _sink_batches(spark, sdir, _events(60))
    merged = kmv_merged_readout(_sidecar(spark, sdir), ["g"], k=K)
    direct = kmv_sketch(df, ["g"], F.col("v"), k=K).withColumn(
        "approx_distinct", kmv_estimate(F.col("sketch"), k=K)
    )
    assert _readout_map(merged) == _readout_map(
        direct.select("g", "sketch", "approx_distinct")
    )


def test_replay_is_idempotent(spark, tmp_path):
    sdir = str(tmp_path / "kmv")
    df = _sink_batches(spark, sdir, _events(60))
    before = _readout_map(
        kmv_merged_readout(_sidecar(spark, sdir), ["g"], k=K)
    )
    # at-least-once: batch 1 fires again
    kmv_ingest_sink(sdir, ["g"], F.col("v"), k=K)(
        df.filter(F.col("v") % 3 == 1), 1
    )
    after = _readout_map(
        kmv_merged_readout(_sidecar(spark, sdir), ["g"], k=K)
    )
    assert before == after


def test_small_set_stays_exact_through_merge(spark, tmp_path):
    """Group b holds only 5 distinct values (< k): each batch sketch is
    its exact distinct set, and the merged estimate is the EXACT
    cross-batch distinct count, not an estimate."""
    sdir = str(tmp_path / "kmv")
    _sink_batches(spark, sdir, _events(60))
    got = _readout_map(
        kmv_merged_readout(_sidecar(spark, sdir), ["g"], k=K)
    )
    assert got["b"][1] == 5


def test_recount_after_erasure_matches_surviving_corpus(spark, tmp_path):
    """KMV sketches are not subtractable: erasure recounts the affected
    batches from surviving source rows, after which the merged readout
    equals the single-pass sketch of the surviving corpus."""
    sdir = str(tmp_path / "kmv")
    df = _sink_batches(spark, sdir, _events(60))
    erased = {3, 9, 12}
    surviving = df.filter(~F.col("v").isin(list(erased)))
    rebuilt = recount_kmv_sidecar(
        spark,
        sdir,
        {
            b: surviving.filter(F.col("v") % 3 == b)
            for b in range(3)
        },
        ["g"],
        F.col("v"),
        k=K,
    )
    assert rebuilt == ["batch=0", "batch=1", "batch=2"]
    merged = kmv_merged_readout(_sidecar(spark, sdir), ["g"], k=K)
    direct = kmv_sketch(surviving, ["g"], F.col("v"), k=K).withColumn(
        "approx_distinct", kmv_estimate(F.col("sketch"), k=K)
    )
    assert _readout_map(merged) == _readout_map(
        direct.select("g", "sketch", "approx_distinct")
    )


def test_read_before_first_batch_is_none(spark, tmp_path):
    assert _sidecar(spark, str(tmp_path / "empty")) is None


def test_sidecar_read_schema_equals_inferred(spark, tmp_path):
    """The reader's given schema is what the sink writes: the same
    columns, types and rows as Spark's inference over the directory."""
    sdir = str(tmp_path / "kmv")
    _sink_batches(spark, sdir, _events(30))
    given = _sidecar(spark, sdir)
    inferred = spark.read.option("basePath", sdir).parquet(
        *[str(p) for p in sorted((tmp_path / "kmv").glob("batch=*"))]
    )
    assert given.schema == inferred.schema
    assert sorted(map(repr, given.collect())) == sorted(map(repr, inferred.collect()))
