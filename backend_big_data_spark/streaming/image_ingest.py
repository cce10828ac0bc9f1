"""Deduplicating IMAGE ingest — the multimodal member of the ingest
family (`ingest_dedup` = text, `semdedup_ingest` = embeddings, this =
binary images).

Per micro-batch of (media_id, payload) rows:

1. decode + perceptual dHash each payload (`multimodal/phash.py`; one
   Arrow-batched map pass — undecodable payloads are NOT admitted and
   are not corpus content; they surface in the sink's quarantine dir);
2. drop within-batch near-dups (Hamming ≤ radius, banded blocking; the
   min media_id of each near-group survives — deterministic);
3. drop batch rows within radius of the AT-REST corpus: the probe joins
   the batch's 16-bit hash bands against the corpus' maintained
   ``dhash`` column — the corpus is never re-decoded or re-hashed, the
   admission-time dHash IS the index (the same maintained-state
   discipline as the text sink's fp/Bloom/band sidecars);
4. append survivors (payload + dhash) as ``batch=N``.

Replay safety mirrors the family: ``exclude_batch`` on the corpus read
and per-batch directory overwrite make at-least-once retries rewrite
the identical survivor set.

Scale: per-batch cost is one decode pass over the BATCH plus a band
equi-join against the corpus' three-column (media_id, dhash, band) scan
— batch-bounded verify, no corpus-side shuffle beyond the band key, and
at rest only the 8-byte hash column is ever read back.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_big_data_spark.multimodal.phash import (
    DEFAULT_MAX_DISTANCE,
    dhash_image_batch,
    hamming_near_dup_pairs,
)


def read_image_corpus(
    spark: SparkSession, corpus_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """Admitted images so far (media_id, payload, dhash), or None.
    ``exclude_batch`` drops that batch's own directory — a replay must
    probe the corpus state it saw the first time."""
    from backend_big_data_spark.streaming.maintenance import read_live

    return read_live(spark, corpus_dir, exclude=exclude_batch)


def _bands(df: DataFrame) -> DataFrame:
    """(media_id, dhash) → one row per 16-bit band: (media_id, dhash,
    band_idx, band_val)."""
    return df.select(
        "media_id",
        "dhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("dhash"), 16 * i).bitwiseAND(
                        F.lit(0xFFFF)
                    )
                    for i in range(4)
                ]
            )
        ).alias("band_idx", "band_val"),
    )


def dedup_images_against_corpus(
    batch_hashes: DataFrame,
    corpus: DataFrame | None,
    max_distance: int = DEFAULT_MAX_DISTANCE,
) -> DataFrame:
    """Surviving (media_id, dhash) of the batch: within-batch near-group
    minima, minus anything within ``max_distance`` of the corpus."""
    pairs = hamming_near_dup_pairs(batch_hashes, max_distance)
    # keep the min media_id of each near-pair (transitively: dropping
    # every row that is the LARGER side of any pair keeps exactly the
    # per-component minimum)
    losers = pairs.select(F.col("media_id_b").alias("media_id")).distinct()
    kept = batch_hashes.join(losers, "media_id", "anti")
    if corpus is None:
        return kept
    cb = _bands(corpus.select("media_id", "dhash")).select(
        "band_idx", "band_val", F.col("dhash").alias("c_dhash")
    )
    kb = _bands(kept)
    hits = (
        kb.join(cb, on=["band_idx", "band_val"])
        .filter(
            F.bit_count(F.col("dhash").bitwiseXOR(F.col("c_dhash")))
            <= max_distance
        )
        .select("media_id")
        .distinct()
    )
    return kept.join(hits, "media_id", "anti")


def image_ingest_sink(
    corpus_dir: str,
    codec: str = "png",
    max_distance: int = DEFAULT_MAX_DISTANCE,
):
    """``foreachBatch`` function maintaining a near-dup-free image corpus
    at ``corpus_dir``. Undecodable payloads land in
    ``quarantine/batch=N`` (media_id only) instead of failing the job or
    silently vanishing."""

    def apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        hashes = dhash_image_batch(batch, codec=codec).persist()
        bad = hashes.filter(F.col("dhash").isNull()).select("media_id")
        good = hashes.filter(F.col("dhash").isNotNull())
        corpus = read_image_corpus(spark, corpus_dir, exclude_batch=batch_id)
        kept = dedup_images_against_corpus(good, corpus, max_distance)
        out = batch.join(kept, "media_id", "semi").join(
            kept.select("media_id", "dhash"), "media_id"
        )
        bdir = f"batch={batch_id}"
        out.write.mode("overwrite").parquet(os.path.join(corpus_dir, bdir))
        bad.write.mode("overwrite").parquet(
            os.path.join(corpus_dir, "quarantine", bdir)
        )
        hashes.unpersist()

    return apply


def image_ingest_stream(
    media_stream: DataFrame,
    corpus_dir: str,
    checkpoint: str,
    codec: str = "png",
):
    """Attach the image-dedup sink to a media stream. Returns the started
    StreamingQuery (caller awaits/stops)."""
    return (
        media_stream.writeStream.foreachBatch(
            image_ingest_sink(corpus_dir, codec=codec)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


__all__ = [
    "dedup_images_against_corpus",
    "image_ingest_sink",
    "image_ingest_stream",
    "read_image_corpus",
]
