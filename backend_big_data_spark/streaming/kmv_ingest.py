"""Streaming KMV distinct-count sidecar — the maintained-state form of
`operators/kmv.py`, completing what ``events_user_kmv_merged`` proved as
algebra: per-batch sketch ROWS are an exact incremental representation
of the corpus sketch, so a sink can append k tiny rows per micro-batch
and any reader recovers the corpus-wide distinct-count estimates by
MERGE alone — no corpus rescan, no read-modify-write of a counts table.

Layout (the drift_monitor/lm_ingest log-structured discipline): each
micro-batch overwrites only its own ``batch=N`` directory with its
per-group sketch rows ``(group_cols..., sketch array<long>, n_seen)``;
at-least-once replays rewrite the identical directory (the sketch is a
deterministic function of the batch's rows), so the sink is idempotent
with no exclusion bookkeeping. Readers merge with one explode + keyed
bottom-k over ≤ k·n_batches surviving hashes per group — bounded by
config × batch count, never by data.

Why this closes the 100 TB monitoring loop: "distinct users per type,
corpus-so-far, after every batch" is otherwise a COUNT(DISTINCT) over
the full history per refresh. With the sidecar the refresh cost is
O(groups · k · batches) integer rows, the estimate is mergeable across
arbitrary batch boundaries (Beyer et al.'s union closure), and — unlike
a DataSketches HLL sidecar — every readout is exactly replayable in
ANSI SQL, so the maintained state itself is hash-oracle-certified
(`plans/round11.events_user_kmv_sidecar`).

Erasure note: KMV sketches are NOT subtractable (removing a value whose
hash sits in the bottom-k needs the evicted k+1-th hash). The erasure
path is therefore a per-batch recount from the surviving source rows —
:func:`recount_kmv_sidecar`, one `retraction.rewrite_dir` per batch,
run by the caller under `retraction.journaled`.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from backend_big_data_spark.operators.kmv import kmv_estimate, kmv_sketch
from backend_big_data_spark.streaming.maintenance import read_live
from backend_big_data_spark.streaming.retraction import rewrite_dir

#: Columns of every sidecar row after the sink's group columns (what
#: ``kmv_sketch`` emits), then the ``batch`` partition column of the
#: ``batch=N`` layout. Readers pass it with the group columns' DDL, so a
#: read infers nothing.
SIDECAR_COLUMNS = "sketch array<bigint>, n_seen bigint, batch int"


def kmv_ingest_sink(
    sidecar_dir: str,
    group_cols: list[str],
    value: Column,
    k: int = 64,
    prefilter: int | None = None,
):
    """``foreachBatch`` function appending one KMV sketch row per group
    per micro-batch under ``sidecar_dir/batch=N``. Per-batch cost: one
    map-side hash (+ optional threshold filter for giant batches — the
    `operators/kmv.kmv_sketch` adaptive ceiling, starvation-guarded)
    and a keyed bottom-k over the BATCH's per-group distinct hashes —
    O(|batch|), flat in the corpus size. Directory overwrite makes
    at-least-once replays byte-idempotent."""

    def apply(batch: DataFrame, batch_id: int) -> None:
        kmv_sketch(batch, group_cols, value, k=k, prefilter=prefilter).write.mode(
            "overwrite"
        ).parquet(os.path.join(sidecar_dir, f"batch={batch_id}"))

    return apply


def read_kmv_sidecar(
    spark: SparkSession, sidecar_dir: str, group_schema: str
) -> DataFrame | None:
    """All per-batch sketch rows, or None before the first batch.
    ``group_schema`` is the DDL of the sink's group columns (for example
    ``"event_type string"``); the rest of the schema is
    :data:`SIDECAR_COLUMNS`."""
    return read_live(
        spark, sidecar_dir, schema=f"{group_schema}, {SIDECAR_COLUMNS}"
    )


def kmv_merged_readout(
    sidecar: DataFrame, group_cols: list[str], k: int = 64
) -> DataFrame:
    """Corpus-so-far distinct-count estimates from sketch rows ALONE:
    per group, the k smallest of the union of all per-batch sketch
    hashes (sketches are closed under union), finished with the
    standard estimator. Input to the bottom-k window is ≤ k·n_batches
    rows per group. Output: ``(group_cols..., sketch, approx_distinct)``.

    Small-set caveat folded in: a group whose pooled distinct hashes
    number < k is its exact distinct set across all batches (each
    batch's sketch held ALL its hashes in that regime), so the
    estimator's small-set convention stays exact after the merge."""
    pooled = sidecar.select(
        *group_cols, F.explode("sketch").alias("__h")
    ).dropDuplicates([*group_cols, "__h"])
    w = Window.partitionBy(*group_cols).orderBy("__h")
    merged = (
        pooled.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .groupBy(*group_cols)
        .agg(F.array_sort(F.collect_list("__h")).alias("sketch"))
    )
    return merged.withColumn(
        "approx_distinct", kmv_estimate(F.col("sketch"), k=k)
    )


def recount_kmv_sidecar(
    spark: SparkSession,
    sidecar_dir: str,
    batch_sources: dict[int, DataFrame],
    group_cols: list[str],
    value: Column,
    k: int = 64,
) -> list[str]:
    """Erasure support (sketches are not subtractable): rewrite the
    named batches' sketch rows from their SURVIVING source rows
    (`retraction.rewrite_dir`; the caller journals). Returns the
    rewritten directory names."""
    rebuilt = []
    for batch_id, surviving in sorted(batch_sources.items()):
        name = f"batch={batch_id}"
        rewrite_dir(
            spark, sidecar_dir, name, kmv_sketch(surviving, group_cols, value, k=k)
        )
        rebuilt.append(name)
    return rebuilt


__all__ = [
    "kmv_ingest_sink",
    "kmv_merged_readout",
    "read_kmv_sidecar",
    "recount_kmv_sidecar",
]
