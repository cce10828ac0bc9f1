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
   at-rest analog of an index seek; at cluster scale, bucket the fold
   target by term for shuffle-free lookups),
3. its stats as ``stats/batch=N`` (one row: __n, __sum_dl).

Readers union the sidecar dirs (`read_bm25_postings` — postings rows
need no merge, doc ids are disjoint across batches; `read_bm25_stats`
keyed-sums). The compactor folds all three in lockstep.

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

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_big_data_spark.sources import fsutil
from backend_big_data_spark.streaming.linkage_ingest import _read_dirs
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
    return _read_dirs(spark, index_dir, exclude_batch)


#: Fold metadata marking a TERM-BUCKETED postings layout (written by
#: ``compact_bm25_index(term_buckets=B)``): folded postings live under
#: ``postings/batch=K/__tb=<stable_hash(term) % B>/``, so a query's
#: bucket filter becomes a PARTITION PRUNE — at cluster scale the
#: at-rest postings read touches only the buckets the query's terms
#: hash into, a directory-level index seek instead of a full postings
#: scan (ROADMAP round-11 candidate).
_TERM_BUCKET_META = "_term_buckets.json"


def _term_bucket_count(spark: SparkSession, index_dir: str) -> int | None:
    raw = fsutil.read_text(
        spark, os.path.join(index_dir, "postings", _TERM_BUCKET_META)
    )
    return json.loads(raw)["n_buckets"] if raw else None


def _term_bucket_py(term: str, n_buckets: int) -> int:
    """Python twin of ``stable_hash(term) % n_buckets`` (md5, 15 hex
    chars = 60 bits) — the reader computes the query's buckets
    driver-side; must stay bit-identical to the fold's column expr."""
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:15], 16) % n_buckets


def read_bm25_postings(
    spark: SparkSession,
    index_dir: str,
    exclude_batch: int | None = None,
    query_terms: list[str] | None = None,
) -> DataFrame | None:
    """(term, doc_id, tf, dl) across the maintained per-batch postings —
    equals `text.bm25.doc_postings` over the full corpus exactly
    (doc ids are disjoint across batches, so union IS the merge).

    Handles MIXED layouts after a term-bucketed fold: folded dirs carry
    the ``__tb`` partition column, the un-folded recent tail doesn't —
    each dir is read separately and unioned by name (null ``__tb`` for
    the tail). With ``query_terms`` given and a bucketed layout present,
    the bucket membership filter prunes the folded bulk to the query's
    own buckets AT THE DIRECTORY LEVEL (PartitionFilters, plan-tested);
    the flat tail passes through the null arm and is scanned — the right
    asymmetry: the bulk is pruned, the small recent tail isn't worth a
    layout."""
    from backend_big_data_spark.streaming.maintenance import fold_exclusions

    base = os.path.join(index_dir, "postings")
    skip = fold_exclusions(spark, base, "batch")
    names = [
        n
        for n in fsutil.list_subdirs(spark, base, prefix="batch=")
        if n != f"batch={exclude_batch}" and n not in skip
    ]
    if not names:
        return None
    frames = [
        spark.read.option("basePath", base).parquet(os.path.join(base, n))
        for n in names
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    n_buckets = _term_bucket_count(spark, index_dir)
    if n_buckets and query_terms and "__tb" in out.columns:
        buckets = sorted({_term_bucket_py(t, n_buckets) for t in query_terms})
        out = out.filter(
            F.col("__tb").isNull() | F.col("__tb").isin(buckets)
        )
    return out.drop("__tb") if "__tb" in out.columns else out


def read_bm25_stats(
    spark: SparkSession, index_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """One (__n, __sum_dl) row keyed-summed across the stats sidecars."""
    raw = _read_dirs(spark, os.path.join(index_dir, "stats"), exclude_batch)
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

    ``term_buckets``: lay the folded postings out PARTITIONED BY
    ``__tb = stable_hash(term) % term_buckets`` — the cluster-scale
    layout where a query's postings lookup becomes a directory-level
    partition prune instead of a scan (`read_bm25_postings` consumes the
    recorded bucket count and prunes automatically). Use with
    ``keep_latest=0`` to bucket the whole index; batches arriving after
    the fold stay flat until the next fold (the reader handles the mixed
    layout). Erasure on a bucketed index goes through
    `retract_from_bm25_index` unchanged — it folds a flat tail first so
    the postings rewrite publishes one consistent layout."""
    from backend_big_data_spark.text.sampling import stable_hash
    from backend_big_data_spark.streaming.maintenance import _fold

    folded = _fold(spark, index_dir, "batch", keep_latest)
    p_dir = os.path.join(index_dir, "postings")
    if term_buckets is None:
        # sticky layout: once bucketed, later compactions re-bucket at
        # the recorded width unless the caller overrides
        term_buckets = _term_bucket_count(spark, index_dir)
    if fsutil.list_subdirs(spark, p_dir, prefix="batch="):
        if term_buckets:
            _fold(
                spark,
                p_dir,
                "batch",
                keep_latest,
                reducer=lambda df: df.withColumn(
                    "__tb",
                    (stable_hash(F.col("term")) % term_buckets).cast("int"),
                ).sortWithinPartitions("__tb", "term"),
                partition_by=("__tb",),
            )
            fsutil.write_text_atomic(
                spark,
                os.path.join(p_dir, _TERM_BUCKET_META),
                json.dumps({"n_buckets": int(term_buckets)}),
            )
        else:
            _fold(
                spark,
                p_dir,
                "batch",
                keep_latest,
                reducer=lambda df: (
                    df.drop("__tb") if "__tb" in df.columns else df
                ).sortWithinPartitions("term"),
            )
    s_dir = os.path.join(index_dir, "stats")
    if fsutil.list_subdirs(spark, s_dir, prefix="batch="):
        _fold(
            spark,
            s_dir,
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
                ("__tb",) if _term_bucket_count(spark, index_dir) else ()
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
        if _term_bucket_count(spark, index_dir):
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
