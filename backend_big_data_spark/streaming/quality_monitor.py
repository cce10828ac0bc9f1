"""Streaming quality-calibration monitor — the incremental twin of
``plans/round6c.doc_quality_calibration``.

The batch query's insight is that the calibration DECISION needs only
the (source, bucket, n_docs, toks) grid, never the documents. That
makes the streaming version a log-structured counter exactly like
`drift_monitor`: each micro-batch appends its own grid as ``delta=N``,
the reader merges deltas by keyed sum, and the per-batch metric is the
full calibration verdict over corpus-so-far + batch. Admitted documents
are never re-tokenized — per-batch cost is O(batch) scoring plus a
merge over the bounded grid (≤ sources × 251 rows per delta).

Replay safety mirrors the other sinks: the current batch's own delta is
excluded from the corpus read (`exclude_batch`), and both the delta and
the metric directory are overwritten idempotently. ``auto_compact_every``
folds the commit-stable delta prefix into one pre-summed grid via
`streaming.maintenance` (same union/sum-once semantics as the drift
counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_big_data_spark.plans.round6c import (
    calibration_from_grid,
    score_grid,
)
from backend_big_data_spark.sources import fsutil

_GRID_SCHEMA = "source string, bucket long, n_docs long, toks long"


def read_grid(
    spark: SparkSession, grid_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """Merged calibration grid from every ``delta=N`` directory (keyed
    sum — folding deltas is semantics-preserving). None when empty."""
    from backend_big_data_spark.streaming.maintenance import read_live

    df = read_live(spark, grid_dir, "delta", exclude_batch)
    if df is None:
        return None
    return df.groupBy("source", "bucket").agg(
        F.sum("n_docs").alias("n_docs"), F.sum("toks").alias("toks")
    )


def quality_monitor_sink(
    grid_dir: str,
    metrics_dir: str,
    auto_compact_every: int | None = None,
):
    """``foreachBatch`` function: score the arriving batch, merge with
    the corpus-so-far grid, append the per-source calibration verdict
    (keyed by batch id), then append the batch's own grid as
    ``delta=N``. The first batch calibrates against itself alone."""

    def apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        bg = score_grid(batch).persist()
        corpus = read_grid(spark, grid_dir, exclude_batch=batch_id)
        merged = bg if corpus is None else bg.unionByName(corpus)
        merged = merged.groupBy("source", "bucket").agg(
            F.sum("n_docs").alias("n_docs"), F.sum("toks").alias("toks")
        )
        metric = calibration_from_grid(merged).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        metric.write.mode("overwrite").parquet(
            f"{metrics_dir}/batch={batch_id}"
        )
        bg.write.mode("overwrite").parquet(f"{grid_dir}/delta={batch_id}")
        bg.unpersist()
        if auto_compact_every is not None:
            n_deltas = len(
                fsutil.list_subdirs(spark, grid_dir, prefix="delta=")
            )
            if n_deltas > auto_compact_every:
                from backend_big_data_spark.streaming.maintenance import (
                    compact_quality_grid,
                )

                compact_quality_grid(spark, grid_dir, keep_latest=1)

    return apply


def quality_monitor_stream(
    docs_stream: DataFrame, grid_dir: str, metrics_dir: str, checkpoint: str
):
    """Attach the calibration monitor to a document stream. Returns the
    started StreamingQuery (caller awaits/stops)."""
    return (
        docs_stream.writeStream.foreachBatch(
            quality_monitor_sink(grid_dir, metrics_dir)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_calibration_metrics(
    spark: SparkSession, metrics_dir: str
) -> DataFrame:
    """All per-batch calibration verdicts appended so far."""
    return spark.read.option("basePath", metrics_dir).parquet(
        metrics_dir + "/batch=*"
    )


__all__ = [
    "quality_monitor_sink",
    "quality_monitor_stream",
    "read_calibration_metrics",
    "read_grid",
]
