"""Incremental language-model training — maintained n-gram COUNT
sidecars over a streaming document corpus.

N-gram counts are ADDITIVE across document batches, so a corpus sink
that writes each batch's bigram/trigram counts as per-batch sidecar
directories gives incremental LM training for free: the keyed sum of
the sidecars equals the counts a full corpus scan would produce, and
every count-driven model (`text/lm.py` add-k, `text/kneser_ney.py` KN —
whose every lower order is a continuation count over the count TABLE)
retrains from the maintained counts without touching a single document.
The equivalence is oracle-certified: `doc_kn_incremental_model` builds
the KN model from the maintained counts and must hash-match the SAME
DuckDB twin as the full-retrain `doc_kn_bigram_model`.

Per micro-batch of (doc_id, text):

1. the raw batch appends as ``batch=N`` (the corpus of record),
2. its bigram counts as ``bigrams/batch=N`` (w1, w2, c12),
3. its trigram counts as ``trigrams/batch=N`` (w1, w2, w3, c123).

Readers union the sidecar dirs and sum by key (`read_lm_bigram_counts`
/ `read_lm_trigram_counts`); the compactor folds both sidecars with the
same keyed sum (a fold IS the readers' merge done once and persisted).
Replay safety: per-batch overwrite — an at-least-once retry rewrites
identical counts.

Erasure (`retract_from_lm_corpus`) is one `retraction.journaled`
request. Unlike the linkage/setsim INDEX sidecars (id-keyed rows the
purge can filter), count rows carry no document id — but they are a
PURE AGGREGATE of the corpus dirs, so the purge is rebuild-to-match-
layout (`retraction.recount_sidecars`): remove the documents, then
recount every affected count sidecar from its surviving documents
directory and delete count dirs whose documents directory no longer
exists (their mass is inside the folded docs dir, which gets
recounted). Recounting from the current docs layout is a fixed point,
so the replay after a crash is too. Ghost counts matter — an erased
document's bigrams can reconstruct its phrasing, so the sidecar purge
is part of the erasure guarantee (the linkage master's argument,
`retraction.py`).

Scale shape: per-batch cost is one tokenize + two hash aggregates over
the BATCH; model (re)build cost is over the COUNT TABLES (vocabulary²
at worst), never the corpus. At 100 TB the counts sidecar IS the
pinned-model discipline `text/lm.py` prescribes, kept fresh per batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_big_data_spark.streaming.maintenance import fold, read_live
from backend_big_data_spark.streaming.retraction import (
    dirs_holding,
    journaled,
    recount_sidecars,
    replay,
    retract_ids,
)
from backend_big_data_spark.text.kneser_ney import doc_trigram_occurrences
from backend_big_data_spark.text.lm import doc_bigram_occurrences


def _batch_bigram_counts(docs: DataFrame) -> DataFrame:
    occ = doc_bigram_occurrences(docs)
    return (
        occ.withColumn("w2", F.split(F.col("bigram"), " ")[1])
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )


def _batch_trigram_counts(docs: DataFrame) -> DataFrame:
    return doc_trigram_occurrences(docs).groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("c123")
    )


def read_lm_docs(
    spark: SparkSession, corpus_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """The document corpus of record (doc_id, text), or None."""
    return read_live(spark, corpus_dir, exclude=exclude_batch)


def read_lm_bigram_counts(
    spark: SparkSession, corpus_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """(w1, w2, c12) summed across the maintained per-batch sidecars —
    equals the full-corpus bigram counts exactly (additivity)."""
    raw = read_live(
        spark, os.path.join(corpus_dir, "bigrams"), exclude=exclude_batch
    )
    if raw is None:
        return None
    return raw.groupBy("w1", "w2").agg(F.sum("c12").alias("c12"))


def read_lm_trigram_counts(
    spark: SparkSession, corpus_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """(w1, w2, w3, c123) summed across the maintained sidecars."""
    raw = read_live(
        spark, os.path.join(corpus_dir, "trigrams"), exclude=exclude_batch
    )
    if raw is None:
        return None
    return raw.groupBy("w1", "w2", "w3").agg(F.sum("c123").alias("c123"))


def lm_ingest_sink(corpus_dir: str, score_batches: bool = False):
    """``foreachBatch`` function maintaining the corpus of record and
    its bigram/trigram count sidecars under ``corpus_dir``.

    ``score_batches``: additionally score every arriving document
    against the CORPUS-SO-FAR KN bigram model (built from the maintained
    count sidecars, ``exclude_batch`` for replay safety — never a
    retrain scan) into ``ppl/batch=N`` rows (doc_id, n_bigrams, nll_fp;
    NULL nll_fp = the document contains a model-unseen bigram, the
    honest OOV signal) — the streaming form of the CCNet perplexity
    filter: score-at-arrival, threshold downstream. Batch 0 scores
    against an empty model (every doc OOV) so the sidecar covers every
    batch uniformly. Scoring is read-only w.r.t. the maintained state;
    replay rewrites identical rows."""

    def apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        bdir = f"batch={batch_id}"
        batch.select("doc_id", "text").write.mode("overwrite").parquet(
            os.path.join(corpus_dir, bdir)
        )
        docs = spark.read.parquet(os.path.join(corpus_dir, bdir))
        if score_batches:
            from backend_big_data_spark.text.kneser_ney import (
                kn_bigram_model_from_counts,
                kn_doc_nll_from_model,
            )

            counts = read_lm_bigram_counts(
                spark, corpus_dir, exclude_batch=batch_id
            )
            if counts is None:
                scored = (
                    doc_bigram_occurrences(docs)
                    .groupBy("doc_id")
                    .agg(F.count(F.lit(1)).cast("int").alias("n_bigrams"))
                    .select(
                        "doc_id",
                        "n_bigrams",
                        F.lit(None).cast("long").alias("nll_fp"),
                    )
                )
            else:
                scored = kn_doc_nll_from_model(
                    docs, kn_bigram_model_from_counts(counts)
                )
            scored.write.mode("overwrite").parquet(
                os.path.join(corpus_dir, "ppl", bdir)
            )
        _batch_bigram_counts(docs).write.mode("overwrite").parquet(
            os.path.join(corpus_dir, "bigrams", bdir)
        )
        _batch_trigram_counts(docs).write.mode("overwrite").parquet(
            os.path.join(corpus_dir, "trigrams", bdir)
        )

    return apply


def lm_ingest_stream(doc_stream: DataFrame, corpus_dir: str, checkpoint: str):
    """Attach the LM-count sink to a document stream. Returns the
    started StreamingQuery (caller awaits/stops)."""
    return (
        doc_stream.writeStream.foreachBatch(lm_ingest_sink(corpus_dir))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def compact_lm_corpus(
    spark: SparkSession, corpus_dir: str, keep_latest: int = 1
) -> list[int]:
    """Fold the commit-stable prefix of the corpus and BOTH count
    sidecars (keyed sums — the readers' merge persisted). Sidecar folds
    run unconditionally (the round-9 alignment discipline: a crash
    between the docs fold and the sidecar folds must heal on the next
    call)."""
    folded = fold(spark, corpus_dir, "batch", keep_latest)
    fold(
        spark,
        os.path.join(corpus_dir, "bigrams"),
        "batch",
        keep_latest,
        reducer=lambda df: df.groupBy("w1", "w2").agg(F.sum("c12").alias("c12")),
    )
    fold(
        spark,
        os.path.join(corpus_dir, "trigrams"),
        "batch",
        keep_latest,
        reducer=lambda df: df.groupBy("w1", "w2", "w3").agg(
            F.sum("c123").alias("c123")
        ),
    )
    return folded


def _lm_journal_path(corpus_dir: str) -> str:
    return os.path.join(corpus_dir, "_retract_lm_journal.json")


def _lm_erasure(spark: SparkSession, corpus_dir: str):
    """``apply`` of the LM erasure request ``{"ids", "dirs"}``: row
    removal, recount of the affected count sidecars, then the purge of
    per-document score rows (``ppl/batch=N`` — derived personal data
    keyed by doc id, removed like the linkage masters' link rows)."""

    def apply(req: dict) -> dict:
        out = retract_ids(
            spark, corpus_dir, req["ids"], id_col="doc_id",
            drop_band_sidecar=False,
        )
        out["count_dirs_rebuilt"] = recount_sidecars(
            spark,
            corpus_dir,
            req["dirs"],
            {"bigrams": _batch_bigram_counts, "trigrams": _batch_trigram_counts},
        )
        out["ppl_rows_removed"] = retract_ids(
            spark,
            os.path.join(corpus_dir, "ppl"),
            req["ids"],
            id_col="doc_id",
            drop_band_sidecar=False,
        )["rows_removed"]
        return out

    return apply


def recover_lm_retraction(spark: SparkSession, corpus_dir: str) -> None:
    """Replay a crashed `retract_from_lm_corpus` (idempotent, called on
    entry)."""
    replay(spark, _lm_journal_path(corpus_dir), _lm_erasure(spark, corpus_dir))


def retract_from_lm_corpus(
    spark: SparkSession, corpus_dir: str, doc_ids: list
) -> dict:
    """Erase documents from an LM training corpus AND its count
    sidecars. Ghost n-gram counts can reconstruct an erased document's
    phrasing, so the count purge is part of the erasure guarantee; the
    counts carry no doc id, so the purge RECOUNTS the affected batches'
    sidecars from their surviving documents (see module docstring for
    why recount is the right primitive here and the id-keyed filter is
    right for the linkage/setsim indexes). The affected docs dirs are
    probed before the removal and journaled with the request."""
    return journaled(
        spark,
        _lm_journal_path(corpus_dir),
        lambda: {
            "ids": list(doc_ids),
            "dirs": sorted(dirs_holding(spark, corpus_dir, doc_ids, "doc_id")),
        },
        _lm_erasure(spark, corpus_dir),
    )


__all__ = [
    "compact_lm_corpus",
    "lm_ingest_sink",
    "lm_ingest_stream",
    "read_lm_bigram_counts",
    "read_lm_docs",
    "read_lm_trigram_counts",
    "recover_lm_retraction",
    "retract_from_lm_corpus",
]
