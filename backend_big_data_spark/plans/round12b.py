"""Round-12b registrations — the Count-Min FREQUENCY sketch family
(`operators/cms.py`, `streaming/cms_ingest.py`), completing the
mergeable-sketch matrix: distinct counts (KMV r11 / HLL r06), quantiles
(qsketch r11), frequencies (here).

All three queries share one discipline: the CM sketch's hashes are the
repo's deterministic 60-bit md5 (`text/sampling.stable_hash`), so —
unlike a DataSketches frequency sketch — every ESTIMATE is a pure
function of the data, and the DuckDB oracle reproduces the estimates
EXACTLY (cell-for-cell), not just within an error band. The exact
corpus counts ride along in the output, so each certified row also
documents the estimator's overcount against ground truth.

- ``corpus_token_cms_estimates`` — direct single-pass sketch build +
  probe estimates for the corpus's heavy tokens.
- ``corpus_token_cms_merged`` — per-shard sketches merged by cell sum;
  the oracle is the SINGLE-PASS SQL verbatim, so hash equality IS the
  merge-closure certificate (cells are additive).
- ``corpus_token_cms_post_erasure`` — the streaming sidecar
  (3 micro-batches through `cms_ingest_sink`, a compaction fold, then
  a journaled NEGATE-DELTA erasure) read back and probed: cells are the
  second exactly-subtractable maintained family (after the drift count
  log), and the oracle rebuilds the sketch from scratch on the
  surviving corpus.

Reference parity note: the reference (CiccioRomeo/backend-big-data) has
no sketch surface; this is additive LLM-pipeline scope (corpus-scale
frequency monitoring with vocabulary-independent state), held to the
same oracle discipline as SURVEY §2.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_big_data_spark.functions.textfns import tokens
from backend_big_data_spark.operators.cms import (
    cms_cells,
    cms_estimate,
    cms_merge,
)
from backend_big_data_spark.operators.pinning import pin_single_evaluation
from backend_big_data_spark.plans.registry import register
from backend_big_data_spark.session import overlap
from backend_big_data_spark.sources.catalog import load_table

#: Sketch geometry for the certified corpus-token queries. Width 1024 at
#: gate scale keeps collisions REAL (sf0.01 carries ~3k distinct tokens,
#: so cells do collide and the overcount column is non-trivial) while the
#: oracle's cell CTE stays tiny.
_CMS_D = 4
_CMS_W = 1024

#: A token is a PROBE when it carries ≥ 1/200 of the corpus's token mass
#: — pure integer cross-multiplication, identical in both engines, and
#: dense enough that even sf0.001 yields probe rows (stopwords).
_PROBE_DIV = 200


def _cms_oracle(doc_where: str = "") -> str:
    """Single-pass CM sketch + heavy-token probe estimates in DuckDB —
    cell-for-cell the Spark build: row r's hash is md5('{r}:' || tok)
    taken to 60 bits, column = hash % width."""
    cell = (
        "CAST(CAST(concat('0x', substr(md5(concat(CAST(t.r AS VARCHAR), "
        "':', {tok})), 1, 15)) AS BIGINT) % {w} AS INTEGER)"
    )
    return f"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents {doc_where}
), counts AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY tok
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts
), cells AS (
  SELECT t.r, {cell.format(tok='tok', w=_CMS_W)} AS c, SUM(n) AS cn
  FROM counts, range({_CMS_D}) t(r)
  GROUP BY 1, 2
), probes AS (
  SELECT tok, n FROM counts, tot WHERE n * {_PROBE_DIV} >= total
), pcells AS (
  SELECT p.tok, t.r, {cell.format(tok='p.tok', w=_CMS_W)} AS c
  FROM probes p, range({_CMS_D}) t(r)
), est AS (
  SELECT pc.tok, MIN(COALESCE(ce.cn, 0)) AS cms_est
  FROM pcells pc LEFT JOIN cells ce ON ce.r = pc.r AND ce.c = pc.c
  GROUP BY 1
)
SELECT p.tok, p.n AS exact_n,
       CAST(e.cms_est AS BIGINT) AS cms_est,
       CAST(e.cms_est - p.n AS BIGINT) AS overcount
FROM probes p JOIN est e USING (tok)
ORDER BY p.tok
"""


def _token_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tok) rows — the sink-shaped token stream."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )


def _probe_and_emit(toks: DataFrame, cells: DataFrame) -> DataFrame:
    """Shared readout: heavy-token probes (exact mass ≥ 1/PROBE_DIV of
    the corpus — integer cross-multiplication against a broadcast scalar
    frame), estimates via the broadcast sketch join, exact-vs-estimate
    columns. The exact side exists only at GATE scale — it is what makes
    the estimates hash-checkable and the overcount honest; production
    readouts use the sketch alone.

    The probe frame (≤ PROBE_DIV rows by construction — each carries
    ≥ 1/PROBE_DIV of total mass) is pinned eagerly (the shared
    pin switch — local-or-reliable): it feeds THREE consumers (estimate probe side,
    final join, and its own tot branch), and without the pin each
    reference re-scans and re-aggregates the corpus — 5 corpus scans in
    the un-pinned plan vs 2 after (sketch build + one probe
    derivation). Same eager-pin discipline as the armed setsim joins;
    the checkpointed frame is tiny and bounded by construction.

    The exact count table is NOT pinned (r12 measured): its two
    consumers (total + probe filter) share an identical aggregate
    exchange that runtime exchange reuse computes once — a pin here
    measured 1.09s → 1.24s."""
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_n"))
    tot = exact.agg(F.sum("exact_n").alias("__total"))
    probes = (
        exact.crossJoin(F.broadcast(tot))
        .where(F.col("exact_n") * _PROBE_DIV >= F.col("__total"))
        .select("tok", "exact_n")
    )
    probes = pin_single_evaluation(probes)
    est = cms_estimate(
        cells, probes.select("tok"), "tok", depth=_CMS_D, width=_CMS_W
    )
    return (
        probes.join(est, "tok")
        .select(
            "tok",
            "exact_n",
            "cms_est",
            (F.col("cms_est") - F.col("exact_n")).alias("overcount"),
        )
        .orderBy("tok")
    )


@register("corpus_token_cms_estimates", oracle=_cms_oracle())
def corpus_token_cms_estimates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Count-Min sketch over the corpus token stream + exact-checked
    frequency estimates for every heavy token (≥ 1/200 of token mass).

    Scale shape: the sketch build is one map-side hash ×4 per token and
    a cell aggregate whose SHUFFLE is bounded by depth·width = 4096 rows
    — no vocabulary-sized exchange anywhere (contrast the exact counts
    path, which shuffles on token). The estimate join broadcasts the
    whole sketch. Estimates are deterministic (60-bit md5 rows), so the
    oracle reproduces them EXACTLY — the overcount column in each green
    row is the estimator's measured error against ground truth, a
    stronger certificate than a probabilistic band."""
    toks = _token_stream(spark, sf_dir).select("tok")
    cells = cms_cells(toks, F.col("tok"), depth=_CMS_D, width=_CMS_W)
    return _probe_and_emit(toks, cells)


@register("corpus_token_cms_merged", oracle=_cms_oracle())
def corpus_token_cms_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-closure certificate for the CM sketch: the corpus is
    sharded 3 ways (doc_id % 3 — the distributed-build regime: each
    shard sketches independently, exactly what per-executor or per-day
    partial sketches do at 100 TB), the per-shard sketches merge by
    CELL SUM, and the oracle is the SINGLE-PASS build verbatim — hash
    equality proves merged ≡ direct (additivity), the same algebra that
    makes the streaming sidecar's keyed-sum readout exact."""
    toks = _token_stream(spark, sf_dir)
    sharded = cms_cells(
        toks.withColumn("__shard", (F.col("doc_id") % 3).cast("int")),
        F.col("tok"),
        depth=_CMS_D,
        width=_CMS_W,
        group_cols=["__shard"],
    )
    merged = cms_merge(sharded.drop("__shard"))
    return _probe_and_emit(toks.select("tok"), merged)


@register(
    "corpus_token_cms_post_erasure",
    oracle=_cms_oracle("WHERE doc_id % 7 != 0"),
)
def corpus_token_cms_post_erasure(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The MAINTAINED CM sketch through its full lifecycle: three
    micro-batches through `streaming/cms_ingest.cms_ingest_sink`
    (per-batch delta dirs, ≤ 4096 cells each), a compaction fold of the
    commit-stable prefix, then a journaled NEGATE-DELTA erasure of the
    doc_id % 7 == 0 slice (`retract_from_cms_cells` — cells are exactly
    subtractable, so retraction is one O(erased docs) append, no batch
    recount). The readout merges the delta log with one keyed sum and
    probes the surviving corpus's heavy tokens; the oracle rebuilds the
    sketch FROM SCRATCH on the surviving documents — hash equality
    certifies maintained ≡ rebuilt through both a compaction boundary
    and an erasure. Crash windows for the same path are pytest-matrixed
    (tests/test_erasure_readout_parity.py).

    Throwaway per-invocation sidecar dir; content is path-independent."""
    import tempfile as _tempfile

    from backend_big_data_spark.streaming.cms_ingest import (
        cms_ingest_sink,
        compact_cms_cells,
        read_cms_cells,
        retract_from_cms_cells,
    )

    tokrows = _token_stream(spark, sf_dir)
    sdir = _tempfile.mkdtemp(prefix="cms_sidecar_")
    sink = cms_ingest_sink(sdir, "tok", depth=_CMS_D, width=_CMS_W)
    # the batch sinks read disjoint slices into disjoint delta dirs; the
    # compaction fold below is the first dependent step
    overlap(*[
        partial(sink, tokrows.where(F.col("doc_id") % 3 == b).select("tok"), b)
        for b in range(3)
    ])
    compact_cms_cells(spark, sdir, keep_latest=1)
    retract_from_cms_cells(
        spark,
        sdir,
        tokrows.where(F.col("doc_id") % 7 == 0).select("tok"),
        "tok",
    )
    cells = read_cms_cells(spark, sdir)
    surviving = tokrows.where(F.col("doc_id") % 7 != 0).select("tok")
    return _probe_and_emit(surviving, cells)


_HH_CMS_K = 32  # per-batch candidate top-k (exact within the batch)
_HH_CMS_TOP = 20  # final heavy-hitter list length

_HH_CMS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
), batch_counts AS (
  SELECT doc_id % 3 AS b, tok, CAST(COUNT(*) AS BIGINT) AS n
  FROM toks GROUP BY 1, 2
), ranked_b AS (
  SELECT b, tok,
         row_number() OVER (PARTITION BY b ORDER BY n DESC, tok) AS r
  FROM batch_counts
), cand AS (
  SELECT DISTINCT tok FROM ranked_b WHERE r <= {_HH_CMS_K}
), counts AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY tok
), cells AS (
  SELECT t.r,
         CAST(CAST(concat('0x', substr(md5(concat(CAST(t.r AS VARCHAR),
              ':', tok)), 1, 15)) AS BIGINT) % {_CMS_W} AS INTEGER) AS c,
         SUM(n) AS cn
  FROM counts, range({_CMS_D}) t(r)
  GROUP BY 1, 2
), pcells AS (
  SELECT p.tok, t.r,
         CAST(CAST(concat('0x', substr(md5(concat(CAST(t.r AS VARCHAR),
              ':', p.tok)), 1, 15)) AS BIGINT) % {_CMS_W} AS INTEGER) AS c
  FROM cand p, range({_CMS_D}) t(r)
), est AS (
  SELECT pc.tok, MIN(COALESCE(ce.cn, 0)) AS cms_est
  FROM pcells pc LEFT JOIN cells ce ON ce.r = pc.r AND ce.c = pc.c
  GROUP BY 1
), hh AS (
  SELECT tok, cms_est,
         row_number() OVER (ORDER BY cms_est DESC, tok) AS rnk
  FROM est
), ex20 AS (
  SELECT tok FROM (
    SELECT tok, row_number() OVER (ORDER BY n DESC, tok) AS r FROM counts
  ) WHERE r <= {_HH_CMS_TOP}
)
SELECT CAST(h.rnk AS INTEGER) AS rnk, h.tok,
       CAST(h.cms_est AS BIGINT) AS cms_est,
       c.n AS exact_n,
       (h.tok IN (SELECT tok FROM ex20)) AS in_exact_top20
FROM hh h JOIN counts c USING (tok)
WHERE h.rnk <= {_HH_CMS_TOP}
ORDER BY h.rnk
"""


@register("corpus_heavy_hitters_from_cms", oracle=_HH_CMS_ORACLE)
def corpus_heavy_hitters_from_cms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Heavy hitters with BOUNDED maintained state — the 100 TB form of
    `corpus_heavy_hitters_from_counts`, whose exact count log is
    O(vocabulary): here the sink keeps only the CM sketch (4096 cells)
    plus each batch's exact top-32 as a CANDIDATE log (a corpus-wide
    heavy key must be heavy in at least one batch), total state
    O(k·batches + depth·width) however large the vocabulary grows. The
    readout estimates the ≤ k·batches candidates against the merged
    sketch and ranks the top 20 by estimate.

    Certification columns keep the approximation honest: ``exact_n``
    (gate-only corpus recount) and ``in_exact_top20`` (membership in
    the exact top-20 — at gate scale the list is recall-perfect; the
    oracle reproduces estimates AND booleans exactly since the hashes
    are deterministic). Both ordered windows are bounded: per-batch
    rank over one batch's counts feeds a LIMIT k, and the final rank
    runs over the ≤ 20-row TakeOrdered result.

    Throwaway per-invocation sidecar dir; content is path-independent."""
    import tempfile as _tempfile

    from pyspark.sql import Window

    from backend_big_data_spark.streaming.cms_ingest import (
        cms_candidate_keys,
        cms_ingest_sink,
        read_cms_cells,
    )

    tokrows = _token_stream(spark, sf_dir)
    sdir = _tempfile.mkdtemp(prefix="cms_hh_")
    sink = cms_ingest_sink(
        sdir, "tok", depth=_CMS_D, width=_CMS_W, candidates_k=_HH_CMS_K
    )
    # the batch sinks read disjoint slices into disjoint delta dirs
    overlap(*[
        partial(sink, tokrows.where(F.col("doc_id") % 3 == b).select("tok"), b)
        for b in range(3)
    ])

    cands = cms_candidate_keys(spark, sdir).select(
        F.col("key").alias("tok")
    )
    est = cms_estimate(
        read_cms_cells(spark, sdir), cands, "tok", depth=_CMS_D, width=_CMS_W
    )
    top = est.orderBy(F.desc("cms_est"), "tok").limit(_HH_CMS_TOP)
    w = Window.orderBy(F.desc("cms_est"), "tok")  # ≤ 20 rows — post-limit
    ranked = top.withColumn("rnk", F.row_number().over(w).cast("int"))
    exact = tokrows.groupBy("tok").agg(F.count("*").alias("exact_n"))
    ex20 = (
        exact.orderBy(F.desc("exact_n"), "tok")
        .limit(_HH_CMS_TOP)
        .select(F.col("tok").alias("__ext"), F.lit(True).alias("__in"))
    )
    return (
        ranked.join(exact, "tok")
        .join(ex20, ranked["tok"] == F.col("__ext"), "left")
        .select(
            "rnk",
            "tok",
            "cms_est",
            "exact_n",
            F.coalesce(F.col("__in"), F.lit(False)).alias("in_exact_top20"),
        )
        .orderBy("rnk")
    )


__all__ = [
    "corpus_heavy_hitters_from_cms",
    "corpus_token_cms_estimates",
    "corpus_token_cms_merged",
    "corpus_token_cms_post_erasure",
]
