"""Margin-based kNN pair mining and embedding-truncation evaluation.

Two additive training-data-pipeline operators over embedding columns (the
reference engine, CiccioRomeo/backend-big-data, has no counterpart — this
extends the ANN family of `similarity/ann.py`):

- **margin-based pair mining** (Artetxe & Schwenk 2019, "Margin-based
  Parallel Corpus Mining"; the CCMatrix/LASER alignment recipe): given two
  embedding sets A and B (two languages, two snapshots, two modalities),
  score every candidate pair by the *ratio margin*

      margin(x, y) = cos(x, y) / ((avgk_A(x) + avgk_B(y)) / 2)

  where ``avgk_A(x)`` is the mean of x's top-k cosine similarities into B
  (and symmetrically for y into A). Keep mutual best matches above a
  threshold. The margin normalizes away "hubness" — a vector that is close
  to *everything* gets its raw cosine discounted by its own dense
  neighborhood, so retained pairs are distinctive, not merely similar.

- **truncated-dimension recall** (Matryoshka-style eval): recall@k of
  top-k retrieval using only the first d embedding dimensions against the
  full-dimension ground truth — the standard readout before shipping
  truncated embeddings to a cheaper ANN tier.

Scale design: the exact all-pairs form is the correctness baseline and is
capped (``pair_cap`` + ``MarginMiningBlowup``) exactly like the linkage
family's sizing rules — at 100 TB the production path is
``margin_knn_pairs_lsh``, which generates candidates with the shared
sign-LSH kernel of `similarity/ann.py` (:func:`ann.sign_planes`,
:func:`ann.sign_buckets`: candidates only meet inside a (table, bucket)
key; the pair frame is candidate-sized, never |A|·|B|) and computes the
SAME margin over each vector's candidate neighborhood — the
approximation CCMatrix itself makes (margins over FAISS shortlists).
Every downstream stage shuffles keyed on a_id / b_id only.
:func:`margin_scores` is also the scorer of the streaming margin linker
(`streaming/margin_ingest.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from backend_big_data_spark.similarity.ann import (
    cosine_sim,
    sign_buckets,
    sign_planes,
)


class MarginMiningBlowup(RuntimeError):
    """Raised when the exact all-pairs margin form would build more
    candidate pairs than the caller's ``pair_cap`` — the known-quadratic
    regime where the LSH-candidate form is the correct tool."""


def margin_scores(pairs: DataFrame, k: int) -> DataFrame:
    """Ratio-margin scores over a candidate-pair frame.

    ``pairs`` carries (a_id, b_id, sim). Top-k neighborhood means are
    window aggregates (no self-join, no recompute of the pair frame); the
    ranking key ``mkey`` is the margin rounded to 9 dp so both engines
    (Spark / the DuckDB oracle) rank identically with an id tie-break — a
    sub-1e-9 float wobble can't flip a winner.

    Windows sharing a partition key are chained adjacently (rn_a→da on
    a_id, then rn_b→db on b_id) so each key's hash exchange is
    established once and reused by the next Window operator (guide §2.4);
    the a,b,a,b interleaving this replaced planned four exchanges.
    """
    w_rank_a = Window.partitionBy("a_id").orderBy(F.desc("sim"), F.col("b_id"))
    w_rank_b = Window.partitionBy("b_id").orderBy(F.desc("sim"), F.col("a_id"))
    w_part_a = Window.partitionBy("a_id")
    w_part_b = Window.partitionBy("b_id")

    return (
        pairs.withColumn("rn_a", F.row_number().over(w_rank_a))
        .withColumn(
            "da", F.avg(F.when(F.col("rn_a") <= k, F.col("sim"))).over(w_part_a)
        )
        .withColumn("rn_b", F.row_number().over(w_rank_b))
        .withColumn(
            "db", F.avg(F.when(F.col("rn_b") <= k, F.col("sim"))).over(w_part_b)
        )
        # NULL margin when the pair's two neighborhoods cancel to zero
        # (all-orthogonal candidates), so such pairs drop at the
        # threshold filter; under ANSI mode Spark would otherwise RAISE
        # here. SQL twins must guard the SAME way (CASE WHEN (da+db)=0
        # THEN NULL): DuckDB's ieee_floating_point_ops default makes
        # 0/0 = NaN, which sorts/compares GREATEST — not NULL.
        .withColumn(
            "denom", (F.col("da") + F.col("db")) / F.lit(2.0)
        )
        .withColumn(
            "margin",
            F.when(F.col("denom") != 0.0, F.col("sim") / F.col("denom")),
        )
        .withColumn("mkey", F.round(F.col("margin"), 9))
    )


def _margin_best_matches(
    pairs: DataFrame, k: int, threshold: float, mutual: bool
) -> DataFrame:
    """Mutual (or A-side) best matches above ``threshold`` over
    :func:`margin_scores`.

    The b_id-keyed best window runs FIRST: the scored frame arrives
    partitioned by b_id (db is the last window in `margin_scores`), so
    bb needs no new exchange and ba pays the only one (guide §2.4)."""
    scored = margin_scores(pairs, k)
    best = scored
    keep = F.col("mkey") >= threshold
    if mutual:
        w_best_b = Window.partitionBy("b_id").orderBy(
            F.desc("mkey"), F.col("a_id")
        )
        best = best.withColumn("bb", F.row_number().over(w_best_b))
        keep = keep & (F.col("bb") == 1)
    w_best_a = Window.partitionBy("a_id").orderBy(F.desc("mkey"), F.col("b_id"))
    best = best.withColumn("ba", F.row_number().over(w_best_a))
    keep = keep & (F.col("ba") == 1)
    return (
        best.filter(keep)
        .select(
            "a_id",
            "b_id",
            F.round(F.col("sim"), 6).alias("cosine_sim"),
            F.round(F.col("margin"), 6).alias("margin"),
        )
        .orderBy("a_id")
    )


def margin_knn_pairs(
    side_a: DataFrame,
    side_b: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    mutual: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pair_cap: int | None = None,
) -> DataFrame:
    """Exact margin-based pair mining between two embedding sets.

    All |A|·|B| cosines are computed (B broadcast — callers put the smaller
    side there), so this is the correctness baseline and the
    small-|A|·|B| serving shape. ``pair_cap`` is the sizing rule: when
    set, |A|·|B| is bounded with two cheap counts BEFORE the join and the
    quadratic regime raises :class:`MarginMiningBlowup` instead of
    launching it — production callers at corpus scale use
    :func:`margin_knn_pairs_lsh`.

    Output: one row per retained pair — (a_id, b_id, cosine_sim, margin),
    mutual best matches (or A-side best when ``mutual=False``) with
    margin ≥ ``threshold``.
    """
    if pair_cap is not None:
        n_a, n_b = side_a.count(), side_b.count()
        if n_a * n_b > pair_cap:
            raise MarginMiningBlowup(
                f"exact margin mining would build {n_a}*{n_b}="
                f"{n_a * n_b} pairs > pair_cap={pair_cap}; use "
                "margin_knn_pairs_lsh for the bucketed candidate path"
            )
    a = side_a.select(
        F.col(id_col).alias("a_id"),
        F.col(vec_col).cast("array<double>").alias("av"),
    )
    b = side_b.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).cast("array<double>").alias("bv"),
    )
    pairs = a.crossJoin(F.broadcast(b)).select(
        "a_id", "b_id", cosine_sim(F.col("av"), F.col("bv")).alias("sim")
    )
    return _margin_best_matches(pairs, k=k, threshold=threshold, mutual=mutual)


def margin_knn_pairs_lsh(
    side_a: DataFrame,
    side_b: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    mutual: bool = True,
    num_bits: int = 6,
    num_tables: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    dim: int,
    plane_source: str = "gaussian",
) -> DataFrame:
    """Margin pair mining over sign-LSH candidate pairs — the 100 TB path.

    Candidates come from :func:`ann.sign_buckets`: both sides bucket
    under the same hyperplane family; a pair exists iff the two vectors
    share a (table, bucket) key. The margin is then computed
    within each vector's CANDIDATE neighborhood (top-k among candidates) —
    the same shortlist approximation CCMatrix makes over FAISS indexes.
    Neither side is broadcast: the candidate join shuffles keyed on the
    bucket, every later stage on a_id / b_id. ``plane_source="md5"`` keys
    buckets off hash-derived plane doubles an SQL engine reproduces
    bit-for-bit (see ann.sign_planes), making the whole mine SQL-replayable.
    """
    planes = sign_planes(plane_source, dim, num_bits, num_tables, seed)
    ab = sign_buckets(side_a, planes, "a", id_col=id_col, vec_col=vec_col)
    bb = sign_buckets(side_b, planes, "b", id_col=id_col, vec_col=vec_col)
    pairs = (
        ab.join(bb, "bucket")
        .dropDuplicates(["a_id", "b_id"])
        .select(
            "a_id", "b_id", cosine_sim(F.col("a_vec"), F.col("b_vec")).alias("sim")
        )
    )
    return _margin_best_matches(pairs, k=k, threshold=threshold, mutual=mutual)


def truncated_recall_eval(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dims: tuple[int, ...] = (16, 32),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of prefix-dimension retrieval vs full-dimension truth.

    For each query vector: the exact top-k neighbor set under full-dim
    cosine is the ground truth; for each d in ``dims`` the top-k under
    cosine of the FIRST d components is the candidate set; recall@k is
    their overlap fraction. One row per (query, d):
    (query_id, dim, hits, recall).

    The query side is broadcast (bounded eval set — same contract as
    ann_recall_eval); the corpus streams map-side ONCE for all arms
    (r12, guide §2.4/§1.2): every arm's cosine comes from the same pair
    row (full-dim plus one prefix-slice per d), the per-arm rankings are
    row_numbers over the same query_id partitioning — one exchange, one
    linear window chain, no per-arm corpus re-scan — and the truth∩cand
    overlap is counted directly as Σ(rnk_full≤k ∧ rnk_d≤k), which makes
    the per-arm truth⋈cand join and arm union disappear. Ranking ties
    break on neighbor_id so both engines pick identical sets.
    """
    vec = F.col(vec_col).cast("array<double>")
    q = queries.select(F.col(id_col).alias("query_id"), vec.alias("qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), vec.alias("nv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_sim(F.col("qv"), F.col("nv")).alias("sim_full"),
            *[
                cosine_sim(
                    F.slice(F.col("qv"), 1, d), F.slice(F.col("nv"), 1, d)
                ).alias(f"sim_{d}")
                for d in dims
            ],
        )
    )

    def rank_of(sim_col: str):
        w = Window.partitionBy("query_id").orderBy(
            F.desc(sim_col), F.col("neighbor_id")
        )
        return F.row_number().over(w)

    ranked = scored.withColumn("rnk_full", rank_of("sim_full"))
    for d in dims:
        ranked = ranked.withColumn(f"rnk_{d}", rank_of(f"sim_{d}"))
    per_q = ranked.groupBy("query_id").agg(
        *[
            F.sum(
                (
                    (F.col("rnk_full") <= k) & (F.col(f"rnk_{d}") <= k)
                ).cast("long")
            ).alias(f"hits_{d}")
            for d in dims
        ]
    )
    arms = per_q.select(
        "query_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("int").alias("dim"),
                        F.col(f"hits_{d}").alias("h"),
                    )
                    for d in dims
                ]
            )
        ).alias("arm"),
    )
    return (
        arms.select(
            "query_id",
            F.col("arm.dim").alias("dim"),
            F.col("arm.h").cast("int").alias("hits"),
            F.round(F.col("arm.h") / F.lit(float(k)), 6).alias("recall"),
        )
        .orderBy("query_id", "dim")
    )
