"""Streaming Count-Min sketch sidecar — the maintained-state form of
`operators/cms.py`, completing the sidecar matrix: distinct counts
(`kmv_ingest`), quantiles (`qsketch_ingest`), frequencies (here).

Layout (the drift_monitor log-structured discipline): each micro-batch
overwrites only its own ``delta=N`` directory with the BATCH's sketch
cells ``(group_cols..., r, c, n)`` — at most depth·width rows per group
per batch, a deterministic function of the batch's rows, so
at-least-once replays are byte-idempotent with no exclusion
bookkeeping. Readers merge with ONE keyed sum (cells are additive);
compaction (`compact_cms_cells`) folds the commit-stable prefix like
any other delta log.

Why this closes the frequency-monitoring loop at 100 TB: the exact
alternative (`drift_monitor`'s token-count log) maintains O(vocabulary)
state — correct while the vocabulary fits, but the state itself becomes
a large table. The CMS sidecar's at-rest state is depth·width cells per
group PER BATCH regardless of vocabulary, every readout broadcasts, and
unlike a DataSketches frequency sketch every estimate is exactly
replayable in ANSI SQL, so the maintained state is hash-oracle-certified
(`plans/round12b.corpus_token_cms_post_erasure`).

Erasure: cells are ADDITIVE, so the CM sketch joins token counts as the
second exactly-subtractable family — `retract_from_cms_cells` appends
one negate-delta through `streaming/negdelta` (committed by the shared
`retraction.publish_dir`, as the drift counts are) holding the erased
slice's cells with ``n``
negated; every reader's keyed sum then lands on exactly the surviving
corpus's sketch. No batch recount (the KMV/qsketch story), no corpus
rescan. Over-erasure drives a merged cell negative, which every read
raises on loudly.

The sink consumes rows ALREADY in ``(group_cols..., key[, weight])``
shape — the caller owns the key derivation (e.g. explode a document
batch to tokens) so that retraction can re-derive the identical rows
from erased content.
"""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_big_data_spark.operators.cms import (
    CMS_DEPTH,
    CMS_WIDTH,
    cms_cells,
)
from backend_big_data_spark.sources import fsutil
from backend_big_data_spark.streaming import negdelta


def _meta_path(cells_dir: str) -> str:
    return os.path.join(cells_dir, "_cms_meta.json")


#: Serializes the meta check-and-write: batch sinks are independent jobs
#: (disjoint delta dirs) and may legally run OVERLAPPED from driver
#: threads (`session.overlap` — the round-12 certificate queries do), but
#: the geometry sidecar is one shared file, and two first-writers racing
#: through write_text_atomic's fixed tmp path lose the tmp from under
#: each other (measured: chmod ENOENT on _cms_meta.json.tmp). The race
#: is driver-process-local, so a module lock is the complete fix.
_META_LOCK = threading.Lock()


def _ensure_meta(
    spark: SparkSession,
    cells_dir: str,
    depth: int,
    width: int,
    group_cols: list[str],
) -> None:
    """Pin the sketch geometry in a sidecar meta file (the bucket-fold
    sticky-width discipline): first writer records it, every later
    writer/eraser must match — estimates are only meaningful when every
    delta hashed with the same (depth, width)."""
    with _META_LOCK:
        raw = fsutil.read_text(spark, _meta_path(cells_dir))
        want = {"depth": depth, "width": width, "group_cols": group_cols}
        if raw is None:
            fsutil.write_text_atomic(
                spark, _meta_path(cells_dir), json.dumps(want)
            )
            return
    have = json.loads(raw)
    if have != want:
        raise ValueError(
            f"CMS sidecar {cells_dir} was created with geometry {have}; "
            f"got {want} — a mixed-geometry delta log cannot be merged"
        )


def read_cms_meta(spark: SparkSession, cells_dir: str) -> dict | None:
    raw = fsutil.read_text(spark, _meta_path(cells_dir))
    return None if raw is None else json.loads(raw)


def cms_ingest_sink(
    cells_dir: str,
    key_col: str,
    *,
    weight_col: str | None = None,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    group_cols: list[str] | None = None,
    candidates_k: int | None = None,
):
    """``foreachBatch`` function appending one CM-sketch delta per
    micro-batch under ``cells_dir/delta=N``. Per-batch cost: one
    map-side hash per row ×depth and a cell aggregate whose shuffle is
    bounded by depth·width per group — flat in the corpus size AND in
    the vocabulary. Directory overwrite makes replays byte-idempotent.

    ``candidates_k``: also append the batch's top-k keys by weight
    (exact WITHIN the batch, ``(key, n)`` with a deterministic
    ``n DESC, key`` order) under ``cand=N`` — the candidate log for
    bounded-state heavy hitters (`cms_candidate_keys`): a corpus-wide
    heavy key must be heavy in at least one batch, so the union of
    per-batch top-k is the candidate set and the sketch supplies the
    corpus-wide estimate. Total maintained state is O(k·batches +
    depth·width), independent of the vocabulary — the log the exact
    count table (`drift_monitor`) cannot bound. Candidate rows are
    HINTS, not counts: erasure adjusts the cells (estimates land on the
    surviving corpus) and leaves the candidate log alone."""
    g = list(group_cols or [])
    if candidates_k is not None and g:
        raise ValueError("candidates_k is only supported ungrouped")

    def apply(batch: DataFrame, batch_id: int) -> None:
        _ensure_meta(batch.sparkSession, cells_dir, depth, width, g)
        w = (
            F.lit(1) if weight_col is None else F.col(weight_col)
        ).cast("long")
        cms_cells(
            batch,
            F.col(key_col),
            weight=None if weight_col is None else F.col(weight_col),
            depth=depth,
            width=width,
            group_cols=g,
        ).write.mode("overwrite").parquet(
            os.path.join(cells_dir, f"delta={batch_id}")
        )
        if candidates_k is not None:
            (
                batch.groupBy(F.col(key_col).alias("key"))
                .agg(F.sum(w).alias("n"))
                .orderBy(F.desc("n"), "key")
                .limit(candidates_k)
                .write.mode("overwrite")
                .parquet(os.path.join(cells_dir, f"cand={batch_id}"))
            )

    return apply


def cms_candidate_keys(spark: SparkSession, cells_dir: str) -> DataFrame | None:
    """Distinct union of the per-batch top-k candidate keys (``key``
    rows), or None when the sink never ran with ``candidates_k``. Input
    to `operators/cms.cms_estimate` for the bounded-state heavy-hitters
    readout — ≤ k·n_batches rows, never vocabulary-sized."""
    from backend_big_data_spark.streaming.maintenance import read_dirs

    cands = read_dirs(
        spark, cells_dir, fsutil.list_subdirs(spark, cells_dir, prefix="cand=")
    )
    return None if cands is None else cands.select("key").distinct()


def recover_cms_retraction(spark: SparkSession, cells_dir: str) -> None:
    """Roll a crashed `retract_from_cms_cells` forward (idempotent;
    called on entry by every reader) — `streaming/negdelta`."""
    negdelta.recover_negdelta(spark, cells_dir, family="cms")


def read_cms_cells(
    spark: SparkSession, cells_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """Corpus-so-far sketch from the delta log, or None before the first
    batch: one keyed sum over all ``delta=`` directories (negate deltas
    fold through with sum semantics). Zero cells are dropped (absent ≡ 0
    for `operators/cms.cms_estimate`), so post-erasure state is
    row-identical to a sketch built from the surviving corpus; a
    NEGATIVE merged cell (erasing rows never ingested, or twice) raises
    at evaluation instead of silently deflating estimates.

    ``exclude_batch``: drop that batch's own delta — a replayed
    micro-batch must observe the same corpus state it saw first time."""
    from backend_big_data_spark.streaming.maintenance import live_dirs, read_dirs

    recover_cms_retraction(spark, cells_dir)
    names = live_dirs(spark, cells_dir, "delta", exclude_batch)
    if not names:
        return None
    meta = read_cms_meta(spark, cells_dir) or {"group_cols": []}
    g = list(meta["group_cols"])
    deltas = read_dirs(spark, cells_dir, names)
    merged = deltas.groupBy(*g, "r", "c").agg(F.sum("n").alias("n"))
    return merged.select(
        *g,
        "r",
        "c",
        F.when(
            F.col("n") < 0,
            F.raise_error(
                F.concat(
                    F.lit(
                        "CmsCellNegative: sketch cell went below zero "
                        "after erasure (rows erased that were never "
                        "ingested, or erased twice): cell "
                    ),
                    F.col("r").cast("string"),
                    F.lit(","),
                    F.col("c").cast("string"),
                )
            ).cast("long"),
        )
        .otherwise(F.col("n"))
        .alias("n"),
    ).where(F.col("n") != 0)


def retract_from_cms_cells(
    spark: SparkSession, cells_dir: str, erased: DataFrame, key_col: str,
    *, weight_col: str | None = None,
) -> dict:
    """Erase rows from the maintained sketch by appending ONE journaled
    negate-delta — cells are exactly subtractable, so no batch is
    recounted and no corpus is rescanned: cost is O(erased rows), the
    same shape as one arriving batch.

    ``erased`` must be the SAME ``(group_cols..., key[, weight])`` rows
    the sink ingested (re-derive them from at-rest content BEFORE
    purging it — the `retraction.retract_from_ingest_corpus` caller
    order); geometry comes from the sidecar's pinned meta. Crash
    windows: temp-no-journal → rolled back; journal → rolled forward by
    any reader. Returns ``{"dir": name | None, "cells_negated": n}``."""
    meta = read_cms_meta(spark, cells_dir)
    if meta is None:
        raise ValueError(
            f"CMS sidecar {cells_dir} has no geometry meta — nothing was "
            "ever ingested here"
        )
    neg = cms_cells(
        erased,
        F.col(key_col),
        weight=None if weight_col is None else F.col(weight_col),
        depth=meta["depth"],
        width=meta["width"],
        group_cols=list(meta["group_cols"]),
    ).withColumn("n", -F.col("n"))
    res = negdelta.append_negdelta(spark, cells_dir, neg, family="cms")
    return {"dir": res["dir"], "cells_negated": res["rows"]}


def compact_cms_cells(
    spark: SparkSession, cells_dir: str, keep_latest: int = 1
) -> list[int]:
    """Fold the commit-stable prefix of the ``delta=N`` log into one
    pre-summed delta (the reader's keyed merge done once and persisted)
    — bounding reader merge cost by the fold cadence, not total batch
    count. Negate deltas fold through like any other (sum semantics)."""
    from backend_big_data_spark.streaming.maintenance import fold

    meta = read_cms_meta(spark, cells_dir) or {"group_cols": []}
    g = list(meta["group_cols"])
    return fold(
        spark,
        cells_dir,
        "delta",
        keep_latest,
        reducer=lambda df: df.groupBy(*g, "r", "c").agg(
            F.sum("n").alias("n")
        ),
    )


__all__ = [
    "cms_candidate_keys",
    "cms_ingest_sink",
    "compact_cms_cells",
    "read_cms_cells",
    "read_cms_meta",
    "recover_cms_retraction",
    "retract_from_cms_cells",
]
