"""Incremental BM25 retrieval — a maintained inverted-index sidecar over
a streaming document corpus.

Postings are ADDITIVE across disjoint document batches (a document's
(term, doc, tf, dl) rows depend on that document alone), and the corpus
stats BM25 needs beyond postings — N and Σdl — are additive counters. So
a corpus sink that writes each batch's full postings plus a one-row stats
sidecar gives incremental lexical retrieval for free: scoring reads ONLY
the at-rest index (a term-pruned postings scan + two broadcast-sized
frames) and never re-tokenizes a document. The equivalence is
oracle-certified: `doc_bm25_from_index` scores from the maintained
sidecars and must hash-match the SAME DuckDB twin as the full-scan
`doc_bm25_search` — the `lm_ingest` / `margin_ingest.moments` incremental
equality discipline applied to retrieval.

Per micro-batch of (doc_id, text):

1. the raw batch appends as ``batch=N`` (the corpus of record),
2. its full postings as ``postings/batch=N`` (term, doc_id, tf, dl) —
   written ``sortWithinPartitions("term")`` so parquet row-group stats
   prune a query-term lookup to the index fraction that matters (the
   at-rest analog of an index seek; `compact_bm25_index` can fold the
   postings term-bucketed — `maintenance.POSTINGS_INDEX`),
3. its stats as ``stats/batch=N`` (one row: __n, __sum_dl).

Readers union the live sidecar dirs (`maintenance.read_live`;
`read_bm25_postings` — postings rows need no merge, doc ids are
disjoint across batches; `read_bm25_stats` keyed-sums). The compactor
folds all three in lockstep.

Erasure (`retract_from_bm25_index`) is one `retraction.journaled`
request. Postings rows are id-keyed, so every postings dir naming an
erased id is filter-rewritten (ghost postings matter — tf rows
reconstruct an erased document's word histogram, so the sidecar purge
is part of the erasure guarantee). The one-row stats sidecars are PURE
AGGREGATES, so they are recounted from each surviving documents dir
(`retraction.recount_sidecars`). A crash leaves the request journaled,
and the next erasure call replays it before its own; readers do not
replay, so until then they can serve the erased ids' postings.

Scale shape: per-batch cost is one tokenize + one hash aggregate over
the BATCH; query cost is a pushed-predicate scan of the postings index
plus |q| broadcast rows — corpus-size-independent compute after the
scan prune. At 100 TB the postings sidecar IS the inverted index,
maintained by ingestion, never rebuilt.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_big_data_spark.streaming.maintenance import (
    POSTINGS_INDEX,
    fold,
    fold_index,
    index_width,
    read_index,
    read_live,
)
from backend_big_data_spark.streaming.retraction import (
    dirs_holding,
    journaled,
    recount_sidecars,
    replay,
    retract_ids,
)
from backend_big_data_spark.text.bm25 import (
    bm25_topk_from_postings,
    doc_postings,
)


def _batch_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    from backend_big_data_spark.text.bm25 import _terms

    return docs.select(
        F.size(_terms(F.col(text_col))).alias("__dl")
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        F.coalesce(F.sum("__dl"), F.lit(0)).cast("long").alias("__sum_dl"),
    )


def read_bm25_docs(
    spark: SparkSession, index_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """The document corpus of record (doc_id, text), or None."""
    return read_live(spark, index_dir, exclude=exclude_batch)


def read_bm25_postings(
    spark: SparkSession,
    index_dir: str,
    exclude_batch: int | None = None,
    query_terms: list[str] | None = None,
) -> DataFrame | None:
    """(term, doc_id, tf, dl) across the maintained per-batch postings —
    equals `text.bm25.doc_postings` over the full corpus exactly
    (doc ids are disjoint across batches, so union IS the merge).

    `maintenance.read_index` over `maintenance.POSTINGS_INDEX` (mixed
    layouts after `compact_bm25_index` with ``term_buckets``;
    ``query_terms`` prunes the bucketed bulk to the query's buckets).
    Keeps the ``batch`` column."""
    return read_index(
        spark, index_dir, POSTINGS_INDEX, exclude_batch, probe_keys=query_terms
    )


def read_bm25_stats(
    spark: SparkSession, index_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """One (__n, __sum_dl) row keyed-summed across the stats sidecars."""
    raw = read_live(spark, os.path.join(index_dir, "stats"), exclude=exclude_batch)
    if raw is None:
        return None
    return raw.agg(
        F.sum("__n").alias("__n"),
        F.sum("__sum_dl").cast("long").alias("__sum_dl"),
    )


def bm25_topk_from_index(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    k: int = 20,
) -> DataFrame:
    """Top-k BM25 retrieval served ENTIRELY from the maintained index —
    no document is read or tokenized. Same finisher as the one-shot
    `text.bm25.bm25_topk` (`bm25_topk_from_postings`), so scores are
    identical by construction; the query-term filter pushes into the
    postings parquet scan (term-sorted row groups prune)."""
    postings = read_bm25_postings(
        spark, index_dir, query_terms=query_terms
    )
    stats = read_bm25_stats(spark, index_dir)
    if postings is None or stats is None:
        raise ValueError(
            f"bm25_topk_from_index: no maintained index under {index_dir}"
        )
    return bm25_topk_from_postings(postings, stats, query_terms, k=k)


def bm25_ingest_sink(index_dir: str):
    """``foreachBatch`` function maintaining the corpus of record, the
    postings index, and the stats sidecar under ``index_dir``. Replay
    safe: per-batch overwrite rewrites identical rows."""

    def apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        bdir = f"batch={batch_id}"
        batch.select("doc_id", "text").write.mode("overwrite").parquet(
            os.path.join(index_dir, bdir)
        )
        docs = spark.read.parquet(os.path.join(index_dir, bdir))
        doc_postings(docs).sortWithinPartitions("term").write.mode(
            "overwrite"
        ).parquet(os.path.join(index_dir, "postings", bdir))
        _batch_stats(docs).write.mode("overwrite").parquet(
            os.path.join(index_dir, "stats", bdir)
        )

    return apply


def bm25_ingest_stream(doc_stream: DataFrame, index_dir: str, checkpoint: str):
    """Attach the BM25-index sink to a (doc_id, text) stream."""
    return (
        doc_stream.writeStream.foreachBatch(bm25_ingest_sink(index_dir))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def compact_bm25_index(
    spark: SparkSession,
    index_dir: str,
    keep_latest: int = 1,
    term_buckets: int | None = None,
) -> list[int]:
    """Fold the commit-stable prefix of the corpus, the postings index
    (concatenation — rows are disjoint; re-sorted by term so the folded
    dir keeps its row-group pruning), and the stats sidecar (keyed sum).
    Sidecar folds run unconditionally (the crash-realignment
    discipline).

    ``term_buckets``: fold the postings bucketed
    (`maintenance.fold_index` over `maintenance.POSTINGS_INDEX`), so a
    query's postings read prunes to its terms' buckets. Erasure on a
    bucketed index goes through `retract_from_bm25_index` unchanged — it
    folds a flat tail first so the postings rewrite publishes one
    consistent layout."""
    folded = fold(spark, index_dir, "batch", keep_latest)
    fold_index(spark, index_dir, POSTINGS_INDEX, keep_latest, term_buckets)
    fold(
        spark,
        os.path.join(index_dir, "stats"),
        "batch",
        keep_latest,
        reducer=lambda df: df.agg(
            F.sum("__n").alias("__n"),
            F.sum("__sum_dl").cast("long").alias("__sum_dl"),
        ),
    )
    return folded


def _bm25_journal_path(index_dir: str) -> str:
    return os.path.join(index_dir, "_retract_bm25_journal.json")


def _bm25_erasure(spark: SparkSession, index_dir: str):
    """``apply`` of the BM25 erasure request ``{"ids", "dirs"}``: row
    removal from the corpus of record, filter-rewrite of every postings
    dir naming an erased id (in the index's own layout), stats recounted
    from the surviving docs dirs."""

    def apply(req: dict) -> dict:
        out = retract_ids(spark, index_dir, req["ids"], drop_band_sidecar=False)
        purged = retract_ids(
            spark,
            os.path.join(index_dir, "postings"),
            req["ids"],
            partition_by=(
                (POSTINGS_INDEX.bucket_col,)
                if index_width(spark, index_dir, POSTINGS_INDEX)
                else ()
            ),
            drop_band_sidecar=False,
        )
        out["posting_dirs_rewritten"] = purged["dirs_rewritten"]
        out["posting_rows_removed"] = purged["rows_removed"]
        out["stats_dirs_rewritten"] = recount_sidecars(
            spark, index_dir, req["dirs"], {"stats": _batch_stats}
        )
        return out

    return apply


def recover_bm25_retraction(spark: SparkSession, index_dir: str) -> None:
    """Replay a crashed `retract_from_bm25_index` (idempotent; called on
    entry)."""
    replay(spark, _bm25_journal_path(index_dir), _bm25_erasure(spark, index_dir))


def retract_from_bm25_index(
    spark: SparkSession, index_dir: str, ids: list
) -> dict:
    """Erase documents from the maintained BM25 index under
    `retraction.journaled`. The request journals the ids and the docs
    dirs holding them, probed before any mutation (afterwards the
    evidence is gone), so a replay recounts the same stats dirs."""

    def plan() -> dict:
        if index_width(spark, index_dir, POSTINGS_INDEX):
            # A bucketed index may carry a FLAT post-fold tail; the
            # postings rewrite publishes in one layout, so fold the tail
            # into the bucketed bulk first (sticky width — cheap: erasure
            # is rare, the tail is small by construction).
            compact_bm25_index(spark, index_dir, keep_latest=0)
        return {
            "ids": list(ids),
            "dirs": sorted(dirs_holding(spark, index_dir, ids, "doc_id")),
        }

    return journaled(
        spark, _bm25_journal_path(index_dir), plan, _bm25_erasure(spark, index_dir)
    )
