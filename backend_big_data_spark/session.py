"""SparkSession factory.

Reference bootstrap: ``main.py:7-17`` (local[*], 4g driver/executor, eager
whole-table cache). The new engine's defaults are tuned for correctness-first
determinism (UTC session timezone) and scale (AQE with partition coalescing
and skew-join handling, Arrow for every pandas interchange).

At 100 TB the same code runs unchanged on a real cluster: only ``master`` and
the memory/shuffle sizing change. Nothing here assumes local mode.

:func:`overlap` is the one way the engine runs independent jobs
concurrently from the driver.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark import InheritableThread
from pyspark.sql import SparkSession

#: Shuffle partitions for local test/bench runs. On a 1000-executor cluster
#: this should be ~2-3x total cores (or left to AQE's coalescing with a high
#: initial value); 32 matches the local[32] harness.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

_BASE_CONFS = {
    # Runtime re-planning: partition coalescing, skew-join splitting,
    # broadcast conversion after runtime stats. Essential at scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamp semantics across engines and machines.
    "spark.sql.session.timeZone": "UTC",
    # Arrow-batched transfer for every toPandas / pandas UDF boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Scan-split size — the parquet-side knob that decides scan task count.
    # Production default is 128 MiB; locally the test tables are ~1-11 MiB
    # single files, so a 128 MiB split serializes every scan onto one core.
    # 4 MiB keeps local[32] busy; override for cluster deploys.
    "spark.sql.files.maxPartitionBytes": os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", str(4 * 1024 * 1024)
    ),
    "spark.sql.files.openCostInBytes": str(1 * 1024 * 1024),
    # Dimension tables (region/nation/part at any SF we serve) broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def get_spark(
    app_name: str = "backend-big-data-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (harness contract);
    ``master`` overrides entirely (e.g. ``yarn`` / ``k8s://...`` in prod).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _BASE_CONFS.items():
        builder = builder.config(k, v)
    builder = builder.config(
        "spark.sql.shuffle.partitions",
        str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
    )
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "8g")
    )
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def overlap(*fns: Callable[[], object]) -> list:
    """Run ``fns`` concurrently, one driver thread each, and return their
    results in argument order.

    For independent Spark jobs (disjoint inputs, disjoint output dirs):
    jobs submitted from several driver threads share the executors, so
    one job's tasks back-fill another's scheduling and commit tail. The
    threads are ``InheritableThread``s, so every job keeps the caller's
    job group and local properties; a plain thread pool drops them, and
    Spark can then not charge the job to its query. Every thread is
    joined before the first failure (in argument order) is re-raised."""
    results: list = [None] * len(fns)
    errors: list = [None] * len(fns)

    def run(i: int) -> None:
        try:
            results[i] = fns[i]()
        except BaseException as e:  # re-raised on the caller's thread
            errors[i] = e

    threads = [InheritableThread(run, args=(i,)) for i in range(len(fns))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e
    return results
