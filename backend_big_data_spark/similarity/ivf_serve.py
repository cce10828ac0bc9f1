"""Maintained-index IVF serving — the ANN member of the maintained-index
family (text fp/band sidecars, image dHash column, linkage gram index,
semdedup cluster column — and now the ANN probe itself).

`similarity/ann.py::ivf_cosine_topk` re-derives the inverted lists from
the raw corpus on every call: a corpus × centroids broadcast scoring pass
plus a per-vector top-1 window. Correct, but at serving time it re-scores
the at-rest corpus for every query batch. The incremental contract this
module completes: assignment happens ONCE at admission
(:func:`assign_lists` — exactly the column the streaming embedding sink
`streaming/semdedup_ingest.py` already stores as ``cluster``), and the
query path (:func:`ivf_maintained_topk`) probes the STORED list ids — one
broadcast join on ``list_id`` prunes the corpus scan to the probed lists
(partition-pruned at rest when the corpus is laid out by list, which the
sink's ``partitionBy("cluster")`` write already does), then the exact
cosine re-rank is candidate-bounded.

Result-invariance: with the same fixed coarse quantizer,
``ivf_maintained_topk(assign_lists(corpus, C), Q, C) ==
ivf_cosine_topk(corpus, Q, centroids=C)`` — the blocking is the same, only
WHEN the corpus side is scored differs (admission vs query time). Tested,
and the registered gate reuses the scratch path's oracle verbatim.

The probe, the candidate scoring and the ranking tail are the shared
helpers of `similarity/ann.py` (:func:`ann.nearest_lists`,
:func:`ann.probed_scores`, :func:`ann.neighbor_topk`) — the same calls
``ivf_cosine_topk`` makes — so the two paths cannot drift apart; only
the source of the corpus-side list ids differs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from backend_big_data_spark.similarity.ann import (
    nearest_lists,
    neighbor_topk,
    probed_scores,
)


def assign_lists(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Admission-time inverted-list assignment: (id, vec double[],
    list_id) with each vector on its nearest centroid (cosine, ties to
    the smaller ``list_id`` — the same deterministic order as the scratch
    path). This is the one corpus × centroids pass; it runs once per
    admitted batch in the streaming sink, never on the query path."""
    return nearest_lists(corpus, centroids, 1, "x", id_col, vec_col).select(
        F.col("x_id").alias(id_col), F.col("x_vec").alias("vec"), "list_id"
    )


def ivf_maintained_topk(
    assigned: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k over a corpus whose inverted lists are ALREADY stored
    (``assigned``: (id, vec, list_id) from :func:`assign_lists` or the
    embedding sink's ``cluster`` column). The corpus branch of the plan
    is a plain scan + one broadcast hash join on ``list_id`` — no
    centroid scoring, no per-vector window (plan-tested); only the tiny
    query side scores centroids to pick its ``nprobe`` lists."""
    probes = nearest_lists(queries, centroids, nprobe, "query", id_col, vec_col)
    # ``assigned`` is an inverted-list table: one list per id
    # (assign_lists is a top-1; the embedding sink stores one cluster per
    # vector), which is what probed_scores' no-dedup join relies on
    lists = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("vec").alias("neighbor_vec"),
        "list_id",
    )
    return neighbor_topk(probed_scores(lists, probes, "neighbor_vec"), k)


__all__ = ["assign_lists", "ivf_maintained_topk"]
