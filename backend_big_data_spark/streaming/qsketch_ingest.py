"""Streaming quantile-sketch sidecar — the maintained-state form of
`operators/qsketch.py`, the third leg of the maintained sketch family
(distinct counts: `streaming/kmv_ingest.py`; quantiles: here). A sink
appends each micro-batch's bottom-k-by-hash sample ROWS; any reader
recovers the corpus-so-far quantile estimates by re-taking the k
hash-smallest of the pooled rows (bottom-k sketches are closed under
union — the merge is LOSSLESS, `operators/qsketch.merge_samples`), so
"p99 of X, corpus-so-far, after every batch" costs O(groups·k·batches)
rows instead of a full-history rescan.

Layout and replay: the kmv_ingest discipline — one ``batch=N`` dir per
micro-batch holding ``(group_cols..., __h, __k, val)`` sample rows,
directory overwrite on at-least-once replay (the sample is a
deterministic function of the batch's rows), no exclusion bookkeeping.

Erasure: a bottom-k sample is not subtractable (evicting a sampled row
needs the k+1-th hash it displaced), so erasure is a per-batch recount —
:func:`recount_qsketch_sidecar` rewrites affected batches' sample rows
from their surviving source rows (`retraction.rewrite_dir`).

Every readout is exactly replayable in ANSI SQL (the sample is
``row_number() OVER (ORDER BY h, key) <= k``), so the maintained state
is hash-oracle-certified end to end
(`plans/round11.lineitem_quantile_sidecar`), unlike a t-digest/KLL
sidecar whose internals are implementation-defined.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_big_data_spark.operators.qsketch import bottomk_sample
from backend_big_data_spark.streaming.maintenance import read_live
from backend_big_data_spark.streaming.retraction import rewrite_dir


def qsketch_ingest_sink(
    sidecar_dir: str,
    group_cols: list[str],
    key: Column,
    value: Column,
    k: int = 1024,
    prefilter: int | None = None,
):
    """``foreachBatch`` function appending one bottom-k sample frame per
    micro-batch under ``sidecar_dir/batch=N``. Per-batch cost: one
    map-side hash (+ optional adaptive threshold filter for giant
    batches, starvation-guarded) and a keyed bottom-k over the batch —
    O(|batch|), flat in the corpus size. ``key`` must obey the
    `operators/qsketch.bottomk_sample` contract (unique per row, value
    embedded)."""

    def apply(batch: DataFrame, batch_id: int) -> None:
        bottomk_sample(
            batch, group_cols, key, value, k=k, prefilter=prefilter
        ).write.mode("overwrite").parquet(
            os.path.join(sidecar_dir, f"batch={batch_id}")
        )

    return apply


def read_qsketch_sidecar(
    spark: SparkSession, sidecar_dir: str
) -> DataFrame | None:
    """All per-batch sample rows, or None before the first batch."""
    return read_live(spark, sidecar_dir)


def qsketch_merged_readout(
    sidecar: DataFrame,
    group_cols: list[str],
    pcts: list[int],
    k: int = 1024,
    est_col: str = "est",
) -> DataFrame:
    """Corpus-so-far nearest-rank quantile estimates from sample rows
    ALONE: merge (≤ k·n_batches rows per group in, k out — lossless by
    union closure), then the standard estimator. One row per
    (group, pct)."""
    from backend_big_data_spark.operators.qsketch import (
        merge_samples,
        sample_quantiles,
    )

    merged = merge_samples(sidecar, group_cols, k=k)
    return sample_quantiles(merged, group_cols, pcts, est_col=est_col)


def recount_qsketch_sidecar(
    spark: SparkSession,
    sidecar_dir: str,
    batch_sources: dict[int, DataFrame],
    group_cols: list[str],
    key: Column,
    value: Column,
    k: int = 1024,
) -> list[str]:
    """Erasure support (samples are not subtractable): rewrite the named
    batches' sample rows from their SURVIVING source rows
    (`retraction.rewrite_dir`; the caller journals). Returns the
    rewritten directory names."""
    rebuilt = []
    for batch_id, surviving in sorted(batch_sources.items()):
        name = f"batch={batch_id}"
        rewrite_dir(
            spark,
            sidecar_dir,
            name,
            bottomk_sample(surviving, group_cols, key, value, k=k),
        )
        rebuilt.append(name)
    return rebuilt


__all__ = [
    "qsketch_ingest_sink",
    "qsketch_merged_readout",
    "read_qsketch_sidecar",
    "recount_qsketch_sidecar",
]
