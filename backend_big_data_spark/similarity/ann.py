"""Similarity search over embedding columns (north-star additive scope),
and the one home of the rules every ANN path shares.

Entry points here: brute force (the exact baseline), SQ8, IVF with flat
or SQ8 lists, and sign-LSH (base and multi-probe). `pq.py` adds PQ and
IVF-PQ, `ivf_serve.py` IVF over stored list ids, `mining.py` margin pair
mining, `negatives.py` label-restricted neighbors. Each of them builds
its plan from the helpers below, so the oracle contract is written once:

- :func:`rank_neighbors` / :func:`neighbor_topk` — the neighbor-ranking
  tail: top-k per query by (sim desc, neighbor_id), cosine rounded to
  6 dp, output ``(query_id, neighbor_id, cosine_sim, rnk)``;
- :func:`broadcast_scores` — exact scoring against a broadcast query set
  (the corpus streams map-side, no corpus shuffle);
- :func:`nearest_lists` — the coarse-list probe: each vector's ``n``
  nearest centroids by (cosine desc, list_id); :func:`probed_scores`
  scores the (query, neighbor) pairs that share a probed list;
- :func:`exact_rerank` — shortlist on approximate scores, then re-score
  the shortlist against full-precision vectors;
- :func:`sign_planes` / :func:`sign_buckets` — the sign-LSH kernel: the
  plane family and the ``"t:bits"`` bucket keys (stored on disk by the
  margin master's ``buckets/`` sidecar, so their format is fixed).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from backend_big_data_spark.operators.windows import topk_per_group


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns — pure Catalyst
    higher-order functions, evaluated left-to-right (deterministic)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def rank_neighbors(scored: DataFrame, k: int) -> DataFrame:
    """The neighbor-ranking tail without the final sort: ``scored``
    (query_id, neighbor_id, sim) → the top ``k`` per query by (sim desc,
    neighbor_id) as (query_id, neighbor_id, cosine_sim[6dp], rnk)."""
    top = topk_per_group(
        scored,
        partition_by=["query_id"],
        order_by=[F.desc("sim"), F.col("neighbor_id")],
        k=k,
        rank_col="rnk",
    )
    return top.select(
        "query_id",
        "neighbor_id",
        F.round(F.col("sim"), 6).alias("cosine_sim"),
        "rnk",
    )


def neighbor_topk(scored: DataFrame, k: int) -> DataFrame:
    """:func:`rank_neighbors` ordered by (query_id, rnk) — the output of
    every top-k ANN entry point."""
    return rank_neighbors(scored, k).orderBy("query_id", "rnk")


def broadcast_scores(
    neighbors: DataFrame, queries: DataFrame, where: Column | None = None
) -> DataFrame:
    """(query_id, neighbor_id, sim) for every pair of ``neighbors``
    (neighbor_id, nv, ...) and the broadcast ``queries`` (query_id, qv,
    ...), self pairs and pairs failing ``where`` dropped. The query side
    must be small; the neighbor side streams map-side."""
    keep = F.col("neighbor_id") != F.col("query_id")
    if where is not None:
        keep = where & keep
    return (
        neighbors.crossJoin(F.broadcast(queries))
        .filter(keep)
        .select(
            "query_id",
            "neighbor_id",
            cosine_sim(F.col("qv"), F.col("nv")).alias("sim"),
        )
    )


def _as_queries(queries: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )


def nearest_lists(
    df: DataFrame,
    centroids: DataFrame,
    n: int,
    prefix: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The coarse-list probe: each vector's ``n`` nearest centroids by
    (cosine desc, list_id), as ``({prefix}_id, {prefix}_vec, list_id)``.
    ``centroids`` — ``(list_id int, centroid array<double>)`` — is tiny
    and broadcast; ``n == 1`` is the inverted-list assignment."""
    pid, pvec = f"{prefix}_id", f"{prefix}_vec"
    scored = (
        df.select(
            F.col(id_col).alias(pid),
            F.col(vec_col).cast("array<double>").alias(pvec),
        )
        .crossJoin(F.broadcast(centroids))
        .select(
            pid,
            pvec,
            "list_id",
            cosine_sim(F.col(pvec), F.col("centroid")).alias("csim"),
        )
    )
    return topk_per_group(
        scored,
        partition_by=[pid],
        order_by=[F.desc("csim"), F.col("list_id")],
        k=n,
        rank_col="_crnk",
    ).select(pid, pvec, "list_id")


def probed_scores(lists: DataFrame, probes: DataFrame, vec: str) -> DataFrame:
    """(query_id, neighbor_id, sim) for every neighbor in one of the
    query's probed lists: ``lists`` (neighbor_id, ``vec``, list_id) joins
    the broadcast ``probes`` (query_id, query_vec, list_id) from
    :func:`nearest_lists`.

    No pair dedup: each neighbor lives in EXACTLY one inverted list (a
    top-1 assignment), so a (query, neighbor) pair materializes at most
    once — a distinct here would shuffle the whole candidate stream on
    (query_id, neighbor_id) for nothing (guide §2.4: a distinct on
    already-unique data). The overlapping-bucket LSH paths keep theirs."""
    return (
        lists.join(F.broadcast(probes), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_sim(F.col("query_vec"), F.col(vec)).alias("sim"),
        )
    )


def exact_rerank(
    approx: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    rerank: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Full-precision re-rank: the top ``rerank`` of ``approx``
    (query_id, neighbor_id, sim) per query are re-scored against the
    full-precision vectors and ranked by :func:`neighbor_topk`. The tiny
    shortlist broadcasts against the full-precision table, so the corpus
    side streams map-side and never reshuffles."""
    shortlist = rank_neighbors(approx, rerank).select("query_id", "neighbor_id")
    full = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("nv"),
    )
    exact = (
        full.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(_as_queries(queries, id_col, vec_col)), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_sim(F.col("qv"), F.col("nv")).alias("sim"),
        )
    )
    return neighbor_topk(exact, k)


def brute_force_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is broadcast (must be small); the corpus streams map-side —
    no shuffle of corpus vectors. Output: (query_id, neighbor_id,
    cosine_sim, rnk) with deterministic id tie-break.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("nv"),
    )
    return neighbor_topk(
        broadcast_scores(c, _as_queries(queries, id_col, vec_col)), k
    )


@lru_cache(maxsize=8)
def _md5_planes(dim: int, num_bits: int, num_tables: int):
    """Hash-derived hyperplanes: component (t, b, i) is a deterministic
    function of md5(f"{t}:{b}:{i}") mapped to [-1, 1]. Every value is the
    SAME IEEE double an SQL engine derives from the same formula
    (``((md5_60bit % 2000001) - 1000000) / 1000000.0``), which makes the
    whole bucketing stage cross-engine reproducible — the seeded-Gaussian
    family can't be replayed in SQL. Uniform (not Gaussian) components
    still give valid sign-LSH bucketing for cosine.

    Plan-build cost control: the md5 calls are unavoidable (the VALUES are
    the contract), but the digest→double mapping is one numpy pass instead
    of a Python triple loop (first 15 hex chars == first 8 digest bytes
    >> 4), and the table is memoized per (dim, bits, tables) — at
    production dims (1-4k) with many tables a recompose would otherwise
    stall the driver for seconds. Callers treat the array as read-only."""
    import hashlib

    md5 = hashlib.md5
    raw = np.fromiter(
        (
            int.from_bytes(md5(f"{t}:{b}:{i}".encode()).digest()[:8], "big") >> 4
            for t in range(num_tables)
            for b in range(num_bits)
            for i in range(dim)
        ),
        dtype=np.uint64,
        count=num_tables * num_bits * dim,
    )
    planes = (
        (raw % 2000001).astype(np.int64) - 1000000
    ).astype(np.float64) / 1000000.0
    planes = planes.reshape(num_tables, num_bits, dim)
    planes.flags.writeable = False
    return planes


def sign_planes(
    plane_source: str, dim: int, num_bits: int, num_tables: int, seed: int = 42
) -> np.ndarray:
    """The (num_tables, num_bits, dim) hyperplanes of a sign-LSH index:
    ``"gaussian"`` — seeded standard normal — or ``"md5"`` — hash-derived,
    SQL-replayable (:func:`_md5_planes`; ``seed`` is unused). Any other
    ``plane_source`` raises ``ValueError``: no oracle replays an unknown
    family."""
    if plane_source == "md5":
        return _md5_planes(dim, num_bits, num_tables)
    if plane_source == "gaussian":
        rng = np.random.default_rng(seed)
        return rng.standard_normal((num_tables, num_bits, dim))
    raise ValueError(
        f"plane_source must be 'gaussian' or 'md5', got {plane_source!r}"
    )


def sign_buckets(
    df: DataFrame,
    planes: np.ndarray,
    prefix: str,
    n_extra: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One row per sign-LSH bucket key of each vector:
    ``({prefix}_id, {prefix}_vec, bucket)``.

    Table ``t``'s key is ``f"{t}:{bits}"``, ``bits`` the sign of each
    hyperplane dot product (``"1"`` when > 0), in plane order; keys come
    table by table. With ``n_extra > 0`` each table's base key is followed
    by ``n_extra`` radius-1 probes, each flipping one bit, in order of
    |margin| ascending with bit-index tie-break — so the md5 family
    replays the whole key list in SQL. Keys are computed in a vectorized
    pandas UDF (Arrow-batched); the base path (``n_extra == 0``) does no
    per-row margin sort."""
    from pyspark.sql.functions import pandas_udf

    num_tables, num_bits = planes.shape[:2]

    @pandas_udf("array<string>")
    def keys(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # (n, dim)
        dots_all = [m @ planes[t].T for t in range(num_tables)]
        bits_all = [d > 0 for d in dots_all]
        out = []
        for i in range(m.shape[0]):
            ks = []
            for t in range(num_tables):
                bits = bits_all[t][i]
                base = "".join("1" if b else "0" for b in bits)
                ks.append(f"{t}:{base}")
                if n_extra:
                    order = np.lexsort((np.arange(num_bits), np.abs(dots_all[t][i])))
                    for j in order[:n_extra]:
                        flipped = base[:j] + ("0" if bits[j] else "1") + base[j + 1 :]
                        ks.append(f"{t}:{flipped}")
            out.append(ks)
        return pd.Series(out)

    pvec = f"{prefix}_vec"
    return df.select(
        F.col(id_col).alias(f"{prefix}_id"),
        F.col(vec_col).cast("array<double>").alias(pvec),
    ).withColumn("bucket", F.explode(keys(F.col(pvec))))


def _sign_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    planes: np.ndarray,
    probes: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The sign-LSH candidate pipeline: corpus base buckets meet the
    broadcast query buckets (base + ``probes`` radius-1 probes per table),
    candidates are deduped per (query, neighbor) and ranked exactly."""
    cb = sign_buckets(corpus, planes, "neighbor", 0, id_col, vec_col)
    qb = sign_buckets(queries, planes, "query", probes, id_col, vec_col)
    # overlapping LSH tables DO need the pair dedup — but partitioning
    # the candidate stream by query_id FIRST lets one exchange serve
    # both the dedup (HashPartitioning(query_id) satisfies
    # ClusteredDistribution(query_id, neighbor_id) — subset key) and the
    # downstream per-query top-k window: 2 exchanges → 1 (guide §2.4,
    # same-key operations share one exchange; r13 bracket: 5→4
    # exchanges, wall neutral-to-better at sf0.1). Trade-off, priced:
    # the single exchange carries the RAW pair stream (the old dedup
    # exchange ran a map-side partial aggregate first), inflating bytes
    # by the pair-duplication factor — bounded by num_tables·(1+probes),
    # and ≈1 for sparse LSH; the old plan shipped the deduped pairs
    # TWICE, so the crossover is dup_factor ≈ 2 and fewer stages wins
    # the block-count game (§2.2) below it. Per-query skew exposure is
    # unchanged — the top-k window already collapsed each query to one
    # task.
    cand = (
        cb.join(F.broadcast(qb), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .repartition("query_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    sim = cosine_sim(F.col("query_vec"), F.col("neighbor_vec"))
    return neighbor_topk(cand.select("query_id", "neighbor_id", sim.alias("sim")), k)


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_bits: int = 8,
    num_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    dim: int,
    plane_source: str = "gaussian",
) -> DataFrame:
    """Approximate top-k cosine via random-hyperplane (sign) LSH.

    Bucket key per table = sign bits of hyperplane dot products
    (:func:`sign_buckets`). Corpus and queries are bucketed identically;
    candidates only meet within a (table, bucket) key — at 100 TB no
    vector ever meets more than its bucket peers. Exact cosine re-ranks
    candidates; recall < 1 by construction, tuned by (num_bits,
    num_tables).

    ``dim`` is required (callers know it from the schema) so composing the
    plan triggers ZERO Spark jobs — no eager ``first()`` sniff at build
    time. ``plane_source``: ``"gaussian"`` (seeded, the default) or
    ``"md5"`` (hash-derived, SQL-replayable — the oracle-gated variant).
    """
    planes = sign_planes(plane_source, dim, num_bits, num_tables, seed)
    return _sign_lsh_topk(corpus, queries, k, planes, 0, id_col, vec_col)


def _sq8_train(corpus: DataFrame, vec_col: str, dim: int) -> tuple[Column, Column]:
    """The SQ8 quantizer: per-dimension (min, span) of the corpus. ONE
    bounded stats pass — O(dim) rows to the driver (legitimate quantizer
    training, not a data collect) — returned as two array literals so the
    encode/decode expressions stay pure Catalyst."""
    cvec = F.col(vec_col).cast("array<double>")
    stats = (
        corpus.select(F.posexplode(cvec).alias("i", "x"))
        .groupBy("i")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    mins = [0.0] * dim
    spans = [0.0] * dim
    for r in stats:
        mins[r["i"]] = r["mn"]
        spans[r["i"]] = r["mx"] - r["mn"]
    return (
        F.array(*[F.lit(m) for m in mins]),
        F.array(*[F.lit(s) for s in spans]),
    )


def _sq8_dequant_expr(vec: Column, quantizer: tuple[Column, Column]) -> Column:
    """Quantize-then-dequantize a vector through uint8 codes. Quantize:
    ``floor((x-mn)/span*255 + 0.5)`` (0 when the dim is constant);
    dequantize: ``mn + c*span/255`` — the identical expression the SQL
    oracle writes, so IEEE arithmetic agrees bit-for-bit. The intermediate
    ``codes`` array is the at-rest storage form (4× smaller than float32)."""
    mn_arr, sp_arr = quantizer

    def _mn(i):
        return F.element_at(mn_arr, i + 1)

    def _sp(i):
        return F.element_at(sp_arr, i + 1)

    codes = F.transform(
        vec,
        lambda x, i: F.when(
            _sp(i) > 0.0, F.floor((x - _mn(i)) / _sp(i) * 255.0 + 0.5)
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )
    return F.transform(
        codes, lambda c, i: _mn(i) + c.cast("double") * _sp(i) / 255.0
    )


def sq8_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    dim: int,
) -> DataFrame:
    """Scalar-quantized (SQ8) ANN: per-dimension linear quantization of the
    corpus to uint8 codes, asymmetric search (float query × dequantized
    corpus), top-k by approximate cosine.

    The memory-bound scale path: at 100 TB of embeddings the uint8 codes
    are 4× smaller at rest and in cache than float32 (8× vs double), and
    the quantizer is just per-dim (min, max) — one stats pass, no training.
    Recall loss is bounded by the per-dim quantization error (span/255);
    production stacks re-rank the top candidates with full-precision
    vectors (compose with :func:`brute_force_cosine_topk` over the
    result ids for that).

    Deterministic end-to-end — stats, codes, and dequantized values are
    exact functions of the corpus, so the whole pipeline (not just the
    re-rank) replays in SQL for the oracle gate. Quantize:
    ``floor((x-mn)/(mx-mn)*255 + 0.5)`` (0 when the dim is constant);
    dequantize: ``mn + c*(mx-mn)/255`` — both sides write the identical
    expression so IEEE arithmetic agrees bit-for-bit.
    """
    cvec = F.col(vec_col).cast("array<double>")
    dequant = _sq8_dequant_expr(cvec, _sq8_train(corpus, vec_col, dim))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), dequant.alias("nv"))
    return neighbor_topk(
        broadcast_scores(c, _as_queries(queries, id_col, vec_col)), k
    )


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse quantizer + probe-and-rerank.

    Train ``nlist`` KMeans centroids (or take ``centroids`` — a tiny
    ``(list_id int, centroid array<double>)`` frame — as a FIXED coarse
    quantizer, which makes the whole pipeline deterministic and
    SQL-replayable for the oracle gate), assign every corpus vector to its
    nearest centroid (the inverted lists), probe each query's ``nprobe``
    nearest centroids, exact-cosine re-rank only vectors in probed lists.
    With ``nprobe == nlist`` this degrades to exact brute force (tested
    invariant); recall rises monotonically with nprobe.

    Scale: the corpus shuffles ONCE on list id (and would be written
    bucketed by it at rest); each query touches nprobe/nlist of the data.
    Centroids are tiny and ride along broadcast — classic IVF from the
    public ANN literature (e.g. FAISS's IVFFlat design), expressed as
    DataFrame ops.
    """
    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        cvec = F.col(vec_col).cast("array<double>")
        train = corpus.select(array_to_vector(cvec).alias("features"))
        model = KMeans(k=nlist, seed=seed, maxIter=10, featuresCol="features").fit(train)
        spark = corpus.sparkSession
        centroids = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
            "list_id int, centroid array<double>",
        )

    lists = nearest_lists(corpus, centroids, 1, "neighbor", id_col, vec_col)
    probes = nearest_lists(queries, centroids, nprobe, "query", id_col, vec_col)
    return neighbor_topk(probed_scores(lists, probes, "neighbor_vec"), k)


def ivf_sq8_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    rerank: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    centroids: DataFrame,
    dim: int,
) -> DataFrame:
    """IVF lists holding SQ8 codes + full-precision re-rank — the composed
    production shape (FAISS's IVF,SQ8 index factory expressed as DataFrame
    ops): the coarse quantizer prunes which lists a query touches
    (nprobe/nlist of the corpus), the scalar-quantized codes make the
    in-list scan 4× smaller, and only the top ``rerank`` candidates per
    query are re-scored against full-precision vectors.

    Deterministic end-to-end with a FIXED ``centroids`` frame: coarse
    assignment is an exact argmax, the SQ8 quantizer is a pure function of
    the corpus, and both ranking stages tie-break on neighbor id — so the
    ENTIRE pipeline (assignment, probe, approx scan, re-rank) replays in
    SQL for the oracle gate. With ``nprobe == nlist`` and ``rerank`` ≥ the
    candidate count this degrades to exact brute force (tested invariant).

    Scale: corpus shuffles once on list id (stored bucketed by it at
    rest, codes not floats); the re-rank join ships only |queries|·rerank
    candidate ids, broadcast against the full-precision table — the big
    side never reshuffles.
    """
    cvec = F.col(vec_col).cast("array<double>")
    dequant = _sq8_dequant_expr(cvec, _sq8_train(corpus, vec_col, dim))
    # inverted lists: assignment by the FULL vector (build-time exactness),
    # per-list payload = the dequantized SQ8 code vector (the stored form)
    lists = (
        nearest_lists(corpus, centroids, 1, "neighbor", id_col, vec_col)
        .select("neighbor_id", "list_id")
        .join(
            corpus.select(F.col(id_col).alias("neighbor_id"), dequant.alias("nv_q")),
            "neighbor_id",
        )
    )
    probes = nearest_lists(queries, centroids, nprobe, "query", id_col, vec_col)
    approx = probed_scores(lists, probes, "nv_q")
    return exact_rerank(approx, corpus, queries, k, rerank, id_col, vec_col)


def lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_bits: int = 8,
    num_tables: int = 4,
    probes: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    dim: int,
    plane_source: str = "gaussian",
) -> DataFrame:
    """Multi-probe sign-LSH ANN (Lv et al., VLDB 2007, specialized to
    radius-1 perturbations): besides its base bucket, each QUERY also
    probes the ``probes`` buckets obtained by flipping one sign bit —
    chosen as the bits with the smallest |hyperplane margin|, i.e. the
    hash decisions most likely to have split true neighbors.

    The 100 TB lever: recall per byte. A missed neighbor usually differs
    in exactly the lowest-margin bit, so radius-1 probing recovers most
    of the recall an EXTRA TABLE would buy — without storing or shuffling
    another full copy of the corpus index (the corpus side keeps ONE base
    bucket per table; only the query side fans out, by a constant
    ``1+probes`` factor on a broadcast-sized frame).

    Deterministic probe order: |margin| ascending with bit-index
    tie-break, so the md5 plane family replays the whole candidate set in
    SQL (the oracle-gated variant). The pipeline is
    :func:`lsh_cosine_topk`'s with the query-side probes added.
    """
    if not 0 < probes < num_bits:
        raise ValueError(f"probes must be in (0, {num_bits}), got {probes}")
    planes = sign_planes(plane_source, dim, num_bits, num_tables, seed)
    return _sign_lsh_topk(corpus, queries, k, planes, probes, id_col, vec_col)
