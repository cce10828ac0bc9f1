"""Streaming embedding entity resolution — the EMBEDDING-space linkage
member of the ingest family (`linkage_ingest` = edit distance,
`setsim_ingest` = token-set Jaccard, this = margin-based cosine best
match: the CCMatrix/LASER contract of `similarity/mining.py` run
link-at-arrival).

Per micro-batch of dirty (id, embedding) records arriving against a
master entity table at ``master_dir``:

1. LINK: each batch record meets only the masters sharing a sign-LSH
   (table, bucket) key — the batch buckets are computed on the BATCH
   (one Arrow-batched pass over the arriving rows) and joined against
   the master's MAINTAINED ``buckets/batch=N`` sidecar, written once at
   admission: the master is never re-hashed (the linkage family's
   maintained-index discipline). Candidates get exact cosines, ratio
   margins over each record's candidate shortlist
   (`mining.margin_scores` — the streaming hubness estimate is
   batch-local on the master side, candidate-local on the batch side),
   and each record emits its ``link_k`` best masters with margin ≥
   ``threshold``, deterministically (9-dp margin key, master-id
   tie-break). Links land in ``links/batch=N``.
2. ADMIT: records that linked nothing become new master entities (after
   within-batch EXACT dedup on the embedding array — min id survives,
   deterministic). Their rows append as ``batch=N`` and their bucket
   keys as ``buckets/batch=N`` — admission maintains the probe state.

Batch-internal NEAR-dups admit as separate entities (the family's
documented streaming-ER compromise; they link from the next batch on).

Replay safety mirrors the family: ``exclude_batch`` on every master
read plus per-batch directory overwrite make at-least-once retries
rewrite identical links and identical admissions. Erasure runs through
`streaming/retraction.retract_from_margin_master` (the bucket sidecar
localizes the erased record in LSH space, so its purge is part of the
erasure guarantee), and `compact_margin_master` folds the master and
its bucket sidecar in lockstep.

Scale: per-batch cost = one bucketing pass over the BATCH, a
bucket-keyed candidate join (candidate-sized, never |batch|·|master|),
a master-id-keyed vector lookup for the candidates, and margin windows
keyed on dirty/master ids — everything tracks the batch and its
candidate count, nothing aggregates the master.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from backend_big_data_spark.similarity.ann import (
    cosine_sim,
    sign_buckets,
    sign_planes,
)
from backend_big_data_spark.similarity.mining import margin_scores
from backend_big_data_spark.streaming.maintenance import (
    fold,
    read_covering,
    read_live,
)

DEFAULT_NUM_BITS = 6
DEFAULT_NUM_TABLES = 6
DEFAULT_KNN_K = 4
DEFAULT_THRESHOLD = 1.0

_EMPTY_LINKS = (
    "dirty_id long, master_id long, rank int, cosine_sim double, margin double"
)


def bucket_index(
    df: DataFrame,
    *,
    dim: int,
    num_bits: int = DEFAULT_NUM_BITS,
    num_tables: int = DEFAULT_NUM_TABLES,
    id_col: str = "id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The (id, bucket) sign-LSH index of a master frame — md5-derived
    plane family (SQL-replayable, `ann.sign_planes`), one row per
    (record, table)."""
    planes = sign_planes("md5", dim, num_bits, num_tables)
    return sign_buckets(df, planes, "x", id_col=id_col, vec_col=vec_col).select(
        F.col("x_id").alias("id"), "bucket"
    )


def read_margin_master(
    spark: SparkSession, master_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """Admitted master entities (id, embedding) so far, or None."""
    return read_live(spark, master_dir, exclude=exclude_batch)


def read_master_buckets(
    spark: SparkSession, master_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """The maintained (id, bucket) LSH index over the admitted master."""
    return read_live(
        spark, os.path.join(master_dir, "buckets"), exclude=exclude_batch
    )


def read_master_moments(
    spark: SparkSession, master_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """The maintained covariance moment sidecar (i, j, v) — per-batch
    ADDITIVE sufficient statistics (`pca.embedding_moments`), so
    `pca.covariance_from_moments` over this read equals the full-corpus
    covariance without rescanning a single vector.

    None unless the moments provably cover the master: directory names
    must match (the `read_master_token_freq` coverage contract) AND the
    sidecar's summed row count — the additive (-1, -1, n) rows — must
    equal the master's row count. The second, CONTENT guard exists
    because moments are aggregates: id-keyed sidecars that drift merely
    cost extra candidates, but a moment dir whose master dir gained or
    lost rows (a master-only fold in the compaction crash window) would
    finish to a silently wrong covariance. On any mismatch callers fall
    back to the full-scan covariance (result-invariant, just slower)."""
    moments = read_covering(
        spark, os.path.join(master_dir, "moments"), master_dir, exclude_batch
    )
    if moments is None:
        return None
    n_sidecar = (
        moments.filter((F.col("i") == -1) & (F.col("j") == -1))
        .agg(F.sum("v"))
        .collect()[0][0]
    )
    master = read_margin_master(spark, master_dir, exclude_batch)
    if master is None or n_sidecar is None or int(n_sidecar) != master.count():
        return None
    return moments


def margin_link_batch(
    batch: DataFrame,
    master: DataFrame | None,
    master_buckets: DataFrame | None,
    *,
    dim: int,
    knn_k: int = DEFAULT_KNN_K,
    threshold: float = DEFAULT_THRESHOLD,
    link_k: int = 1,
    num_bits: int = DEFAULT_NUM_BITS,
    num_tables: int = DEFAULT_NUM_TABLES,
    min_sim: float | None = None,
) -> DataFrame:
    """(dirty_id, master_id, rank, cosine_sim, margin) — each batch
    record's ``link_k`` best admitted masters by ratio margin among its
    LSH candidates, margin ≥ ``threshold``. Empty frame on an empty
    master.

    ``min_sim``: optional absolute cosine floor on RETAINED links (the
    CCMatrix practice of pairing the relative margin gate with an
    absolute one): the ratio margin is degenerate in singleton candidate
    neighborhoods (one candidate each side ⇒ margin ≡ 1 at ANY cosine),
    so entity-resolution deployments arm the floor to keep an
    incidental LSH collision from linking. Applied at the keep filter —
    ranks and margins are unaffected."""
    if master is None or master_buckets is None:
        return batch.sparkSession.createDataFrame([], _EMPTY_LINKS)
    planes = sign_planes("md5", dim, num_bits, num_tables)
    ab = sign_buckets(batch, planes, "a", id_col="id")
    cand = (
        ab.join(
            master_buckets.select(F.col("id").alias("b_id"), "bucket"),
            "bucket",
        )
        .dropDuplicates(["a_id", "b_id"])
        .select("a_id", "b_id", "a_vec")
    )
    pairs = cand.join(
        master.select(
            F.col("id").alias("b_id"),
            F.col("embedding").cast("array<double>").alias("bv"),
        ),
        "b_id",
    ).select("a_id", "b_id", cosine_sim(F.col("a_vec"), F.col("bv")).alias("sim"))
    scored = margin_scores(pairs, knn_k)
    w = Window.partitionBy("a_id").orderBy(F.desc("mkey"), F.col("b_id"))
    keep = (F.col("rank") <= link_k) & (F.col("mkey") >= threshold)
    if min_sim is not None:
        keep = keep & (F.col("sim") >= min_sim)
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(keep)
        .select(
            F.col("a_id").alias("dirty_id"),
            F.col("b_id").alias("master_id"),
            "rank",
            F.round(F.col("sim"), 6).alias("cosine_sim"),
            F.round(F.col("margin"), 6).alias("margin"),
        )
    )


def margin_ingest_sink(
    master_dir: str,
    *,
    dim: int,
    knn_k: int = DEFAULT_KNN_K,
    threshold: float = DEFAULT_THRESHOLD,
    link_k: int = 1,
    num_bits: int = DEFAULT_NUM_BITS,
    num_tables: int = DEFAULT_NUM_TABLES,
    min_sim: float | None = None,
    dedup_exact: bool = True,
):
    """``foreachBatch`` function maintaining the embedding master, its
    LSH bucket sidecar, and the per-batch best-match links under
    ``master_dir``.

    ``dedup_exact``: ER admission semantics collapse intra-batch
    exact-duplicate embeddings to their min id (duplicates are trivially
    the same entity). Pass ``False`` for statistics-maintenance uses
    (e.g. the incremental-covariance moments) where EVERY input row must
    reach the master and its moment sidecar — with the default, moments
    undercount duplicates relative to a full-corpus scan. Moments always
    describe exactly the ADMITTED master rows either way."""

    def apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        b = batch.select("id", "embedding").persist()
        master = read_margin_master(spark, master_dir, exclude_batch=batch_id)
        mbuckets = read_master_buckets(spark, master_dir, exclude_batch=batch_id)
        links = margin_link_batch(
            b,
            master,
            mbuckets,
            dim=dim,
            knn_k=knn_k,
            threshold=threshold,
            link_k=link_k,
            num_bits=num_bits,
            num_tables=num_tables,
            min_sim=min_sim,
        ).persist()
        novel = b.join(
            links.select(F.col("dirty_id").alias("id")).distinct(),
            "id",
            "anti",
        )
        if dedup_exact:
            novel = novel.groupBy("embedding").agg(F.min("id").alias("id"))
        novel = novel.select("id", "embedding")
        bdir = f"batch={batch_id}"
        links.write.mode("overwrite").parquet(
            os.path.join(master_dir, "links", bdir)
        )
        novel.write.mode("overwrite").parquet(os.path.join(master_dir, bdir))
        admitted = spark.read.parquet(os.path.join(master_dir, bdir))
        bucket_index(
            admitted, dim=dim, num_bits=num_bits, num_tables=num_tables
        ).write.mode("overwrite").parquet(
            os.path.join(master_dir, "buckets", bdir)
        )
        from backend_big_data_spark.similarity.pca import embedding_moments

        embedding_moments(admitted, dim=dim).write.mode("overwrite").parquet(
            os.path.join(master_dir, "moments", bdir)
        )
        links.unpersist()
        b.unpersist()

    return apply


def margin_ingest_stream(
    emb_stream: DataFrame,
    master_dir: str,
    checkpoint: str,
    *,
    dim: int,
    knn_k: int = DEFAULT_KNN_K,
    threshold: float = DEFAULT_THRESHOLD,
    link_k: int = 1,
):
    """Attach the margin-linkage sink to an (id, embedding) stream."""
    return (
        emb_stream.writeStream.foreachBatch(
            margin_ingest_sink(
                master_dir,
                dim=dim,
                knn_k=knn_k,
                threshold=threshold,
                link_k=link_k,
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def compact_margin_master(
    spark: SparkSession, master_dir: str, keep_latest: int = 1
) -> list[int]:
    """Fold the commit-stable prefix of the master and its bucket sidecar
    in lockstep (links stay per-batch — results, not probe state). The
    sidecar fold runs UNCONDITIONALLY for the `compact_setsim_master`
    crash-realignment reason."""
    folded = fold(spark, master_dir, "batch", keep_latest)
    fold(spark, os.path.join(master_dir, "buckets"), "batch", keep_latest)
    fold(
        spark,
        os.path.join(master_dir, "moments"),
        "batch",
        keep_latest,
        reducer=lambda df: df.groupBy("i", "j").agg(F.sum("v").alias("v")),
    )
    return folded


__all__ = [
    "bucket_index",
    "compact_margin_master",
    "margin_ingest_sink",
    "margin_ingest_stream",
    "margin_link_batch",
    "read_margin_master",
    "read_master_buckets",
    "read_master_moments",
]
