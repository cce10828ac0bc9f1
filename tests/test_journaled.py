"""The one journaled-mutation primitive (`retraction.journaled` and its
replay) and the shared ``batch=N`` probe (`retraction.dirs_holding`),
driven directly on local dirs with fake steps — the crash matrices of
each family are in their own test files."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from backend_big_data_spark.sources import fsutil
from backend_big_data_spark.streaming.maintenance import fold
from backend_big_data_spark.streaming.retraction import (
    dirs_holding,
    journaled,
    replay,
)


class Crash(Exception):
    pass


def _steps(log, crash_at=None):
    """A fake ``apply`` that logs each step and raises (a crash) when it
    reaches step ``crash_at``."""

    def apply(req):
        for step in ("remove", "purge", "recount"):
            if step == crash_at:
                raise Crash(step)
            log.append((step, req["ids"]))
        return {"done": req["ids"]}

    return apply


def test_crash_leaves_request_in_journal(spark, tmp_path):
    jpath = str(tmp_path / "_journal.json")
    log = []
    with pytest.raises(Crash):
        journaled(spark, jpath, lambda: {"ids": [1, 2]}, _steps(log, "purge"))
    assert log == [("remove", [1, 2])]
    assert json.loads(fsutil.read_text(spark, jpath)) == {"ids": [1, 2]}


def test_next_call_replays_before_planning(spark, tmp_path):
    jpath = str(tmp_path / "_journal.json")
    log = []
    with pytest.raises(Crash):
        journaled(spark, jpath, lambda: {"ids": [1]}, _steps(log, "recount"))

    def plan():
        log.append(("plan", [7]))
        return {"ids": [7]}

    out = journaled(spark, jpath, plan, _steps(log))
    assert out == {"done": [7]}
    assert log == [
        ("remove", [1]), ("purge", [1]),               # the crashed call
        ("remove", [1]), ("purge", [1]), ("recount", [1]),  # its replay
        ("plan", [7]),
        ("remove", [7]), ("purge", [7]), ("recount", [7]),
    ]
    assert fsutil.read_text(spark, jpath) is None


def test_replay_without_journal_runs_no_step(spark, tmp_path):
    log = []
    replay(spark, str(tmp_path / "_journal.json"), _steps(log))
    assert log == []


def _rows(spark, ids):
    return spark.createDataFrame([(i, f"k{i}") for i in ids], "id long, key string")


def test_dirs_holding_reads_folded_and_bucketed_layouts(spark, tmp_path):
    """A bucketed fold (``batch=0`` partitioned by ``__gb``, covering
    batches 0 and 1) beside a flat tail (``batch=2``): each layout is
    probed on its own and the counts are per directory."""
    base = str(tmp_path / "ix")
    for b, ids in enumerate([[1, 2], [3], [4, 5]]):
        _rows(spark, ids).write.parquet(f"{base}/batch={b}")
    assert fold(
        spark,
        base,
        "batch",
        keep_latest=1,
        reducer=lambda df: df.withColumn("__gb", (F.col("id") % 2).cast("int")),
        partition_by=("__gb",),
    ) == [0, 1]
    assert fsutil.list_subdirs(spark, f"{base}/batch=0", prefix="__gb=")
    assert dirs_holding(spark, base, [2, 3, 4, 99]) == {"batch=0": 2, "batch=2": 1}
    assert dirs_holding(spark, base, [99]) == {}
    assert dirs_holding(spark, base, []) == {}


def test_dirs_holding_reports_superseded_fold_sources(spark, tmp_path):
    """Post-publish fold crash: ``batch=0`` already holds the folded
    union and ``batch=1`` is a superseded source not yet deleted. Readers
    skip it, but it still holds the rows on disk, so the probe reports
    it and erasure reaches that copy too."""
    base = str(tmp_path / "m")
    _rows(spark, [1, 2, 3]).write.parquet(f"{base}/batch=0")
    _rows(spark, [3]).write.parquet(f"{base}/batch=1")
    fsutil.write_text_atomic(
        spark,
        os.path.join(base, "_fold_journal_batch.json"),
        json.dumps(
            {"prefix": "batch", "publish": 0, "tmp": "_compacting_batch_0",
             "delete": [0, 1]}
        ),
    )
    assert dirs_holding(spark, base, [3]) == {"batch=0": 1, "batch=1": 1}
    assert dirs_holding(spark, str(tmp_path / "absent"), [3]) == {}
