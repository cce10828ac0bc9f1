"""Hard-negative mining for contrastive/retrieval training (the DPR
in-batch-negatives refinement, Karpukhin et al. 2020, arXiv:2004.04906
§3.2; see also ANCE, arXiv:2007.00808): for each anchor, the most similar
corpus items that do NOT share its label — the near-misses a bi-encoder
must learn to push away, which train far better than random negatives.

Plan shape = the brute-force ANN scorer (`ann.broadcast_scores`) with a
label predicate: anchors broadcast, corpus streams map-side (no corpus
shuffle), per-anchor top-k via one keyed window (`ann.rank_neighbors`,
the shared ranking tail without the final sort). For corpus-scale anchor sets, swap the
brute-force scorer for any of the sub-linear ANN paths (IVF / LSH / PQ in
`similarity/ann.py` + `similarity/pq.py`) and keep the label filter — the
predicate composes with every candidate generator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from backend_big_data_spark.similarity.ann import broadcast_scores, rank_neighbors


def label_matched_topk(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    same_label: bool = False,
) -> DataFrame:
    """Top-k highest-cosine corpus items per anchor, restricted to the
    SAME label (``same_label=True`` — in-class positives) or a DIFFERENT
    label (hard negatives). The anchor itself is always excluded. Output:
    (query_id, neighbor_id, cosine_sim, rnk), deterministic id
    tie-break."""
    q = anchors.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        F.col(label_col).alias("__ql"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("nv"),
        F.col(label_col).alias("__nl"),
    )
    label_pred = (
        F.col("__nl") == F.col("__ql")
        if same_label
        else F.col("__nl") != F.col("__ql")
    )
    return rank_neighbors(broadcast_scores(c, q, where=label_pred), k)


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Top-k highest-cosine DIFFERENT-label corpus items per anchor."""
    return label_matched_topk(
        corpus, anchors, k, id_col, vec_col, label_col, same_label=False
    )


def training_triplets(
    corpus: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """(anchor, positive, hard negative) triplets for contrastive
    training (the triplet-loss / InfoNCE input layout): positive = the
    nearest SAME-label item, negative = the nearest DIFFERENT-label item,
    margin = positive_sim - negative_sim (the quantity triplet loss
    drives above a threshold; a negative margin marks the anchors most
    worth mining). One broadcast of the anchor set drives both scored
    passes; everything downstream is two keyed argmax windows on bounded
    (anchor x corpus-restriction) frames."""
    pos = label_matched_topk(
        corpus, anchors, k=1, id_col=id_col, vec_col=vec_col,
        label_col=label_col, same_label=True,
    ).select(
        "query_id",
        F.col("neighbor_id").alias("positive_id"),
        F.col("cosine_sim").alias("positive_sim"),
    )
    neg = label_matched_topk(
        corpus, anchors, k=1, id_col=id_col, vec_col=vec_col,
        label_col=label_col, same_label=False,
    ).select(
        "query_id",
        F.col("neighbor_id").alias("negative_id"),
        F.col("cosine_sim").alias("negative_sim"),
    )
    return pos.join(neg, on="query_id").select(
        "query_id", "positive_id", "negative_id", "positive_sim",
        "negative_sim",
        F.round(F.col("positive_sim") - F.col("negative_sim"), 6).alias(
            "margin"
        ),
    )
