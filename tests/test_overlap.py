"""`session.overlap`: independent jobs run on inheritable driver threads,
so they keep the caller's job group (a plain thread pool drops it and
Spark cannot charge the jobs to a query), and a failure is re-raised
only after every thread has finished."""

from __future__ import annotations

import ast
import pathlib
import threading

import pytest

from backend_big_data_spark.session import overlap

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "backend_big_data_spark"


def test_overlap_jobs_carry_callers_job_group(spark):
    sc = spark.sparkContext
    group = "overlap-job-group"
    sc.setJobGroup(group, "overlapped jobs")
    try:
        out = overlap(
            *[lambda i=i: sc.parallelize(range(i + 1), 1).count() for i in range(4)]
        )
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out == [1, 2, 3, 4]
    assert len(jobs) == 4


def test_overlap_joins_all_before_raising_first_failure(spark):
    """The first failure in argument order is raised, and only after
    every thread has finished. (``spark`` keeps a context active: the
    threads copy its local properties.)"""
    slow_done = threading.Event()
    late_failure = threading.Event()

    def first():
        late_failure.wait(5)
        raise ValueError("first")

    def second():
        late_failure.set()
        raise KeyError("second")

    def slow():
        late_failure.wait(5)
        slow_done.set()
        return "slow"

    with pytest.raises(ValueError, match="first"):
        overlap(first, second, slow)
    assert slow_done.is_set()


def test_no_package_module_imports_thread_pool_executor():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            names = []
            if isinstance(node, ast.ImportFrom) and node.module == "concurrent.futures":
                names = [a.name for a in node.names]
            elif isinstance(node, ast.Attribute) and node.attr == "ThreadPoolExecutor":
                names = [node.attr]
            if "ThreadPoolExecutor" in names or "*" in names:
                offenders.append(f"{path.relative_to(PACKAGE.parent)}:{node.lineno}")
    assert offenders == [], "use session.overlap instead: " + ", ".join(offenders)
