"""Streaming corpus-drift monitor — the observability twin of the
deduplicating ingest sinks: every arriving micro-batch is scored against
the corpus-so-far token distribution with the fixed-point log-ratio drift
score (`plans/round5b.corpus_kl_drift`'s formulation), and the at-rest
token counts are maintained LOG-STRUCTURED: each batch appends only its
own (token, count) delta directory; readers merge deltas with one keyed
sum. No corpus rescan per batch, no read-modify-write of a counts table —
the same O(batch) append discipline as the ingest sinks, with
`sources/compaction.py` as the periodic delta-folding story at scale.

Why this exists: a feed that silently changes character (new boilerplate,
a language flip, a spam burst) poisons a training mix long before any
per-document filter fires. Distribution-level drift per batch is the
canary; the fixed-point convention makes each score bit-identical across
engines and replays, so a replayed micro-batch writes the identical
metric row (idempotent, like the ingest sinks).

Erasure (round 12): counts are the one maintained family that is exactly
SUBTRACTABLE, so retraction needs no recount — `retract_from_drift_counts`
appends one NEGATE-DELTA directory through `streaming/negdelta`, whose
commit point is the shared `retraction.publish_dir` (every reader replays
a committed delta on entry). The delta is ``delta=-K``: the erased
documents' token counts with ``n`` negated. Streaming batch ids are
always ≥ 0, so negative ids can never collide with a replayed batch's
own overwrite, and every reader's keyed sum lands on exactly the
surviving corpus's counts. The negate delta folds through
`compaction <streaming.maintenance.compact_drift_counts>` like any other
delta (sum semantics). `read_corpus_counts` drops fully-erased tokens
(merged n = 0) so maintained state stays row-identical to a from-scratch
recount of the surviving corpus, and RAISES on a negative merged count —
the signature of erasing documents that were never ingested (or twice),
never a silent corruption.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_big_data_spark.functions.textfns import tokens
from backend_big_data_spark.session import overlap
from backend_big_data_spark.sources import fsutil
from backend_big_data_spark.streaming import negdelta

#: fixed-point scale for per-token log-ratios (the DSIR convention)
DRIFT_SCALE = 10_000


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(tok, n) counts for one frame — one explode + keyed sum."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )


def read_corpus_counts(
    spark: SparkSession, counts_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """Merge all delta directories into the corpus-so-far counts, or None
    before the first batch. One keyed sum over the deltas — the reader
    does the log-structured merge; compaction folds deltas offline.

    ``exclude_batch``: drop that batch's own delta from the merge — a
    REPLAYED micro-batch must score against the same corpus state it saw
    the first time, not against its own earlier write (idempotent
    replay, like the ingest sinks). (If an erasure landed between first
    play and replay, the replay scores against the post-erasure corpus —
    erasure rewrites history by design.)

    Post-erasure exactness: negate-deltas can zero a token out — those
    rows are dropped so the merge is row-identical to recounting the
    surviving corpus — and a NEGATIVE merged count (erasing documents
    never ingested, or twice) raises at evaluation instead of silently
    skewing every downstream readout."""
    from backend_big_data_spark.streaming.maintenance import read_live

    recover_drift_retraction(spark, counts_dir)
    deltas = read_live(spark, counts_dir, "delta", exclude_batch)
    if deltas is None:
        return None
    merged = deltas.groupBy("tok").agg(F.sum("n").alias("n"))
    return merged.select(
        "tok",
        F.when(
            F.col("n") < 0,
            F.raise_error(
                F.concat(
                    F.lit(
                        "DriftCountsNegative: token count went below zero "
                        "after erasure (document erased that was never "
                        "ingested, or erased twice): "
                    ),
                    F.col("tok"),
                )
            ).cast("long"),
        )
        .otherwise(F.col("n"))
        .alias("n"),
    ).where(F.col("n") != 0)


def drift_score(batch_counts: DataFrame, corpus_counts: DataFrame) -> DataFrame:
    """One-row drift readout of a batch distribution vs the corpus-so-far:
    Σ (2·c_batch+1) · fp(ln(c_batch+0.5) − ln(c_corpus+0.5)) over the
    union vocabulary (absent side counts 0), plus the vocab/token totals.
    Every log-ratio snaps to a 1e-4 fixed-point integer BEFORE the
    weighted sum — exact, order-free, engine-independent."""
    a = batch_counts.select("tok", F.col("n").alias("ca"))
    b = corpus_counts.select("tok", F.col("n").alias("cb"))
    c = (
        a.join(b, on="tok", how="full")
        .select(
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    term = (
        (F.lit(2) * F.col("ca") + 1)
        * F.floor(
            (F.log(F.col("ca") + 0.5) - F.log(F.col("cb") + 0.5))
            * F.lit(DRIFT_SCALE)
            + F.lit(0.5)
        ).cast("long")
    )
    return c.agg(
        F.sum(F.when(F.col("ca") > 0, 1).otherwise(0)).cast("long").alias("vocab_batch"),
        F.sum(F.when(F.col("cb") > 0, 1).otherwise(0)).cast("long").alias("vocab_corpus"),
        F.sum("ca").cast("long").alias("tokens_batch"),
        F.sum("cb").cast("long").alias("tokens_corpus"),
        F.sum(term).cast("long").alias("drift_fp"),
    )


def drift_monitor_sink(
    counts_dir: str,
    metrics_dir: str,
    auto_compact_every: int | None = None,
):
    """``foreachBatch`` function: score the arriving batch against the
    corpus-so-far, append the one-row metric (keyed by batch id), then
    append the batch's own counts as ``delta=N``. First batch scores
    against an EMPTY corpus (all-new vocabulary — the expected spike).
    Replays overwrite their own delta/metric directories (idempotent).

    ``auto_compact_every``: once more than this many ``delta=N``
    directories exist, fold the commit-stable prefix into one pre-summed
    delta (`streaming.maintenance.compact_drift_counts`) — bounding the
    reader-side merge at O(auto_compact_every) directories instead of
    O(total batches). The newest delta is never folded (replay safety),
    and a replayed fold is itself idempotent (same union, same sum)."""

    def apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        bc = token_counts(batch).persist()
        corpus = read_corpus_counts(spark, counts_dir, exclude_batch=batch_id)
        if corpus is None:
            corpus = spark.createDataFrame([], "tok string, n long")
        metric = drift_score(bc, corpus).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        # The metric row and the batch's own delta are independent
        # outputs of the same (persisted) batch counts — the NEXT
        # batch's corpus merge is the only reader of delta=N, and
        # read_corpus_counts froze ITS delta listing above, before
        # either job starts. The block-level cache lock on `bc` keeps
        # the shared token count computed once.
        overlap(
            lambda: metric.write.mode("overwrite").parquet(
                f"{metrics_dir}/batch={batch_id}"
            ),
            lambda: bc.write.mode("overwrite").parquet(
                f"{counts_dir}/delta={batch_id}"
            ),
        )
        bc.unpersist()
        if auto_compact_every is not None:
            n_deltas = len(
                fsutil.list_subdirs(spark, counts_dir, prefix="delta=")
            )
            if n_deltas > auto_compact_every:
                from backend_big_data_spark.streaming.maintenance import (
                    compact_drift_counts,
                )

                compact_drift_counts(spark, counts_dir, keep_latest=1)

    return apply


def drift_monitor_stream(
    docs_stream: DataFrame, counts_dir: str, metrics_dir: str, checkpoint: str
):
    """Attach the drift monitor to a document stream. Returns the started
    StreamingQuery (caller awaits/stops)."""
    return (
        docs_stream.writeStream.foreachBatch(
            drift_monitor_sink(counts_dir, metrics_dir)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_drift_metrics(spark: SparkSession, metrics_dir: str) -> DataFrame:
    """All per-batch drift rows appended so far."""
    return spark.read.option("basePath", metrics_dir).parquet(
        metrics_dir + "/batch=*"
    )


def recover_drift_retraction(spark: SparkSession, counts_dir: str) -> None:
    """Roll a crashed `retract_from_drift_counts` forward (idempotent;
    called on entry by every reader and by the retraction itself) — the
    `streaming/negdelta`."""
    negdelta.recover_negdelta(spark, counts_dir, family="drift")


def retract_from_drift_counts(
    spark: SparkSession,
    counts_dir: str,
    erased_docs: DataFrame,
    text_col: str = "text",
) -> dict:
    """Erase documents from the maintained token-count log by appending
    ONE journaled negate-delta directory — counts are exactly
    subtractable, so unlike the sketch/BM25 sidecars no batch is
    recounted and no corpus is rescanned: cost is O(erased docs), the
    same shape as one arriving batch.

    ``erased_docs`` must be the documents' CONTENT (the ``text_col`` is
    re-tokenized with the sink's own tokenizer) — grab the rows from the
    at-rest corpus BEFORE purging them there (the
    `retraction.retract_from_ingest_corpus` caller order). Erasing
    documents that were never ingested (or erasing twice) drives merged
    counts negative, which every subsequent read raises on loudly —
    see `read_corpus_counts`.

    The negate delta lands as ``delta=-K`` (K = 1, 2, ... per erasure):
    streaming batch ids are non-negative, so no replayed batch can ever
    overwrite it, while compaction and readers treat it as an ordinary
    delta (keyed sum). Crash windows: temp written but journal absent →
    rolled back (no-op); journal present → rolled forward by any reader
    (`recover_drift_retraction`). Returns ``{"dir": name,
    "tokens_negated": n_rows}``."""
    neg = token_counts(erased_docs, text_col=text_col).select(
        "tok", (-F.col("n")).alias("n")
    )
    res = negdelta.append_negdelta(spark, counts_dir, neg, family="drift")
    return {"dir": res["dir"], "tokens_negated": res["rows"]}


__all__ = [
    "drift_monitor_sink",
    "drift_monitor_stream",
    "drift_score",
    "read_corpus_counts",
    "read_drift_metrics",
    "recover_drift_retraction",
    "retract_from_drift_counts",
    "token_counts",
]
