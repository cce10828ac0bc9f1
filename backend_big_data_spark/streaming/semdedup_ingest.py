"""Continuously semantically-deduplicating embedding ingest — the
embedding-space twin of `streaming/ingest_dedup.py`, built on
`similarity/semdedup.incremental_semdedup`.

Each arriving micro-batch of (id, embedding) rows is assigned to the FIXED
centroid frame, compared batch-vs-corpus and batch-vs-batch within clusters
only, and the survivors are appended WITH their cluster id. Storing the
cluster at admission time is what makes the loop incremental: the at-rest
corpus is never rescored — later batches join it on the stored ``cluster``
column (`incremental_semdedup` detects and uses it).

Same effectively-once contract as the text sink: ``foreachBatch`` batch-id
gating + per-batch ``batch=N`` directories make a replayed micro-batch
rewrite its own admissions idempotently, and serial batch application means
batch N+1 probes a corpus that includes batch N's survivors — the
sequential semantics the equivalence test asserts.

Scale: per-batch cost is (batch × k centroid assignment, broadcast) + two
cluster-keyed joins with the batch side broadcast. At 100 TB the corpus
parquet would be partitioned by ``cluster`` so each probe prunes to the
batch's touched clusters — the composition here is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from backend_big_data_spark.similarity.semdedup import incremental_semdedup


def read_embedding_corpus(
    spark: SparkSession, corpus_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """The kept embedding corpus so far (id, embedding, cluster), or None
    before the first batch.

    ``exclude_batch``: drop that batch id's own directory — an
    at-least-once REPLAY of batch N must score against the corpus state it
    originally saw, not its own earlier output (every prior survivor would
    match itself at cosine 1.0 and the rewrite would admit ~nothing)."""
    from backend_big_data_spark.streaming.maintenance import read_live

    return read_live(spark, corpus_dir, exclude=exclude_batch)


def semdedup_batch_against_corpus(
    batch: DataFrame,
    corpus: DataFrame | None,
    centroids: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    array_col: str = "embedding",
) -> DataFrame:
    """Survivors of one arriving batch vs the at-rest corpus, WITH their
    cluster assignment (the column later batches join on). First batch:
    within-batch semantic dedup only."""
    batch = batch.select(id_col, array_col)
    kept = incremental_semdedup(
        batch, corpus, centroids, threshold,
        id_col=id_col, array_col=array_col,
    )
    from pyspark.sql import functions as F

    return batch.join(
        kept.filter(F.col("kept")).select(id_col, "cluster"), on=id_col
    )


def semdedup_ingest_sink(
    corpus_dir: str,
    centroids: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    array_col: str = "embedding",
):
    """``foreachBatch`` function maintaining a semantically-deduped
    embedding corpus at ``corpus_dir`` (one ``batch=N`` directory per
    micro-batch, cluster id stored alongside)."""

    def apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        corpus = read_embedding_corpus(spark, corpus_dir, exclude_batch=batch_id)
        kept = semdedup_batch_against_corpus(
            batch, corpus, centroids, threshold,
            id_col=id_col, array_col=array_col,
        )
        # partition the at-rest layout BY CLUSTER: the incremental probe
        # joins corpus-vs-batch on the cluster key, so with this layout
        # Spark's dynamic partition pruning reads only the clusters the
        # arriving batch touches — at 100 TB the per-batch corpus scan is
        # proportional to the touched clusters, not the corpus
        kept.write.mode("overwrite").partitionBy("cluster").parquet(
            f"{corpus_dir}/batch={batch_id}"
        )

    return apply


def semdedup_ingest_stream(
    emb_stream: DataFrame,
    corpus_dir: str,
    checkpoint: str,
    centroids: DataFrame,
    threshold: float = 0.3,
):
    """Attach the semantic-dedup sink to an embedding stream. Returns the
    started StreamingQuery (caller awaits/stops)."""
    return (
        emb_stream.writeStream.foreachBatch(
            semdedup_ingest_sink(corpus_dir, centroids, threshold)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


__all__ = [
    "read_embedding_corpus",
    "semdedup_batch_against_corpus",
    "semdedup_ingest_sink",
    "semdedup_ingest_stream",
]
