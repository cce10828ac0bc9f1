"""Streaming entity resolution — the LINKAGE member of the ingest
family (`ingest_dedup` = text near-dup, `semdedup_ingest` = embeddings,
`image_ingest` = binary media, this = fuzzy record linkage).

Per micro-batch of dirty (id, s) records arriving against a master
entity table at ``master_dir``:

1. LINK: every batch record fuzzy-joins the admitted master at edit
   distance ≤ k via the one-sided prefix probe
   (`operators/fuzzyjoin.edit_distance_join_indexed`): the batch's
   k·q+1 rarest grams are broadcast against the master's MAINTAINED
   gram index — the master strings are never re-shingled (the same
   maintained-admission-state discipline as the family's fp/Bloom/band
   and dhash sidecars). Links land in ``links/batch=N``.
2. ADMIT: records that matched nothing become new master entities
   (after within-batch exact dedup on the string — min id survives,
   deterministic). Their rows append as ``batch=N``, their distinct
   grams as ``grams/batch=N``, and their per-gram counts as
   ``gramfreq/batch=N``, so the index AND its frequency statistics grow
   in lockstep with the master — admission maintains the probe state
   (including the candidate-volume-minimizing gram ranking), nothing is
   rebuilt and nothing is re-aggregated per probe.

Batch-internal NEAR-dups (two novel records within distance k of each
other) are admitted as separate entities — the standard streaming-ER
compromise: resolving them needs a transitive-closure pass the
micro-batch path deliberately avoids; they will link to each other's
rows from the NEXT batch on, and the batch-twin audit
(`linkage_batch_twin`) reports them. Exact duplicates ARE resolved.

Replay safety mirrors the family: ``exclude_batch`` on every master
read plus per-batch directory overwrite make at-least-once retries
rewrite identical links and identical admissions.

Scale: per-batch cost = one gram explode over the BATCH, a broadcast
prefix probe scanning the gram index map-side (no index shuffle — plan
test asserts no Exchange above its scan), and a candidate-bounded
levenshtein verify. The master fold-compacts like every family sidecar
(`maintenance.compact_ingest_corpus` semantics via `compact_linkage_master`),
and its gram index may fold gram-bucketed: the layout and its reader
are `maintenance.GRAM_INDEX` / `maintenance.read_index`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_big_data_spark.operators.fuzzyjoin import (
    edit_distance_join_indexed,
    gram_index,
)
from backend_big_data_spark.session import overlap
from backend_big_data_spark.streaming.maintenance import (
    GRAM_INDEX,
    fold,
    fold_index,
    read_covering,
    read_index,
    read_live,
)

DEFAULT_MAX_DIST = 2
DEFAULT_Q = 3


def read_master(
    spark: SparkSession, master_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """Admitted master entities (id, s) so far, or None."""
    return read_live(spark, master_dir, exclude=exclude_batch)


def read_master_grams(
    spark: SparkSession,
    master_dir: str,
    exclude_batch: int | None = None,
    probe_grams: list[str] | None = None,
) -> DataFrame | None:
    """The maintained (id, gram) index over the admitted master:
    `maintenance.read_index` over `maintenance.GRAM_INDEX` (flat and
    gram-bucketed dirs mixed after `compact_linkage_master` with
    ``gram_buckets``; ``probe_grams`` prunes the bucketed bulk to the
    probe's own grams' buckets)."""
    out = read_index(
        spark, master_dir, GRAM_INDEX, exclude_batch, probe_keys=probe_grams
    )
    return None if out is None else out.drop("batch")


def probe_master_grams(
    spark: SparkSession,
    master_dir: str,
    probe: DataFrame,
    q: int = DEFAULT_Q,
    exclude_batch: int | None = None,
) -> DataFrame | None:
    """The gram index pruned to a PROBE batch's own grams — the
    bucketed-layout serving read. Collects the probe's distinct grams
    driver-side (bounded by |batch|·max_grams_per_string for a
    micro-batch probe; vocabulary-bounded for shared-vocabulary
    masters), maps them to buckets, and returns the
    directory-level-pruned index. On a flat (never-folded) layout this
    is exactly `read_master_grams`."""
    from backend_big_data_spark.operators.fuzzyjoin import qgrams

    grams = [
        r["gram"]
        for r in probe.select(
            F.explode(F.array_distinct(qgrams(F.col("s"), q))).alias("gram")
        )
        .distinct()
        .collect()
    ]
    return read_master_grams(
        spark, master_dir, exclude_batch=exclude_batch, probe_grams=grams
    )


def read_master_gram_freq(
    spark: SparkSession, master_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """Per-gram totals (gram, cnt) from the MAINTAINED ``gramfreq``
    sidecar — the counts `fuzzyjoin.edit_distance_join_indexed` would
    otherwise aggregate from the full (id, gram) index on every probe
    call. Admission writes one (gram, cnt) frame per batch; batches
    admit disjoint ids, so the summed per-batch counts equal the full
    index's groupBy count exactly, and the probe's ranking (hence its
    result) is bit-identical to the on-the-fly aggregate's.

    Returns None when the sidecar does not cover every gram directory
    (a pre-sidecar layout, or a retraction that rewrote grams on an old
    layout) — callers then fall back to aggregating the index
    (`maintenance.read_covering`)."""
    return read_covering(
        spark,
        os.path.join(master_dir, "gramfreq"),
        os.path.join(master_dir, "grams"),
        exclude_batch,
    )


def link_batch(
    batch: DataFrame,
    master: DataFrame | None,
    master_grams: DataFrame | None,
    max_dist: int = DEFAULT_MAX_DIST,
    q: int = DEFAULT_Q,
    master_gram_freq: DataFrame | None = None,
) -> DataFrame:
    """(dirty_id, master_id, edit_dist) for every batch record within
    ``max_dist`` of an admitted master entity (empty frame on an empty
    master). With ``master_gram_freq`` (the ``gramfreq`` sidecar) the
    probe ranks its prefix grams by INDEX frequency — the
    candidate-volume-minimizing order — at no per-probe aggregate over
    the index; without it, batch-local ranking (self-contained)."""
    if master is None or master_grams is None:
        return batch.sparkSession.createDataFrame(
            [], "dirty_id long, master_id long, edit_dist int"
        )
    return edit_distance_join_indexed(
        batch,
        master_grams,
        master,
        max_dist=max_dist,
        q=q,
        index_freq=master_gram_freq,
    ).select(
        F.col("left_id").alias("dirty_id"),
        F.col("right_id").alias("master_id"),
        "edit_dist",
    )


def admit_novel(batch: DataFrame, links: DataFrame) -> DataFrame:
    """Batch records with no master link, exact-deduped on the string
    (min id survives — deterministic)."""
    unmatched = batch.join(
        links.select(F.col("dirty_id").alias("id")).distinct(), "id", "anti"
    )
    return (
        unmatched.groupBy("s")
        .agg(F.min("id").alias("id"))
        .select("id", "s")
    )


def linkage_ingest_sink(
    master_dir: str,
    max_dist: int = DEFAULT_MAX_DIST,
    q: int = DEFAULT_Q,
    link_mode: str = "all",
    k: int = 1,
):
    """``foreachBatch`` function maintaining the master table, its gram
    index, and the per-batch link results under ``master_dir``.

    ``link_mode="topk"`` is the best-match contract (the setsim sink's
    — `setsim_ingest.setsim_ingest_sink`): each batch record emits its
    ``k`` CLOSEST masters (edit distance ASC, master id ASC — integer
    keys, deterministic winner), ≤ |batch|·k rows per batch no matter
    how dense the master's near-dup mass. ADMISSION is identical in
    both modes (novel ⇔ no master within ``max_dist``), so the
    maintained master/index/gramfreq state never forks across modes."""
    if link_mode not in ("all", "topk"):
        raise ValueError(f"link_mode must be 'all' or 'topk', got {link_mode!r}")

    def apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        b = batch.select("id", "s").persist()
        master = read_master(spark, master_dir, exclude_batch=batch_id)
        grams = read_master_grams(spark, master_dir, exclude_batch=batch_id)
        gfreq = read_master_gram_freq(spark, master_dir, exclude_batch=batch_id)
        links = link_batch(
            b, master, grams, max_dist=max_dist, q=q, master_gram_freq=gfreq
        ).persist()
        novel = admit_novel(b, links)
        out_links = links
        if link_mode == "topk":
            from pyspark.sql import Window

            w = Window.partitionBy("dirty_id").orderBy(
                F.asc("edit_dist"), F.asc("master_id")
            )
            out_links = (
                links.withColumn("rank", F.row_number().over(w).cast("int"))
                .where(F.col("rank") <= k)
                .select("dirty_id", "master_id", "rank", "edit_dist")
            )
        bdir = f"batch={batch_id}"
        out_links.write.mode("overwrite").parquet(
            os.path.join(master_dir, "links", bdir)
        )
        novel.write.mode("overwrite").parquet(os.path.join(master_dir, bdir))
        gram_index(
            spark.read.parquet(os.path.join(master_dir, bdir)), q=q
        ).write.mode("overwrite").parquet(
            os.path.join(master_dir, "grams", bdir)
        )
        # per-gram counts of THIS batch's admissions — summed across
        # batches they equal the full index's groupBy count (disjoint
        # ids), so probes rank by index frequency with no index aggregate
        spark.read.parquet(os.path.join(master_dir, "grams", bdir)).groupBy(
            "gram"
        ).agg(F.count(F.lit(1)).alias("cnt")).write.mode("overwrite").parquet(
            os.path.join(master_dir, "gramfreq", bdir)
        )
        links.unpersist()
        b.unpersist()

    return apply


def seed_master_batch(
    spark: SparkSession,
    master_dir: str,
    entities: DataFrame,
    batch_id: int,
    q: int = DEFAULT_Q,
) -> None:
    """Bulk-load one batch of KNOWN-canonical entities (id, s) into the
    master layout — rows, gram index, and gramfreq in lockstep, exactly
    what the sink's ADMIT step writes — skipping the link/novelty probe.
    The initial-index-construction path: an existing deduplicated master
    table becomes probe state without pretending it arrived as a dirty
    stream (admission semantics would otherwise drop canonical entities
    that happen to sit within ``max_dist`` of each other). Directory
    overwrite keeps replays idempotent, like the sink."""
    bdir = f"batch={batch_id}"
    entities.select("id", "s").write.mode("overwrite").parquet(
        os.path.join(master_dir, bdir)
    )
    # grams and gramfreq both derive from the just-written admitted rows
    # (gramfreq = the gram multiset's per-gram counts, whether counted
    # from the grams dir or from the same explode lineage) — two
    # independent outputs in disjoint dirs
    grams = gram_index(spark.read.parquet(os.path.join(master_dir, bdir)), q=q)
    overlap(
        lambda: grams.write.mode("overwrite").parquet(
            os.path.join(master_dir, "grams", bdir)
        ),
        lambda: grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .write.mode("overwrite")
        .parquet(os.path.join(master_dir, "gramfreq", bdir)),
    )


def linkage_ingest_stream(
    dirty_stream: DataFrame,
    master_dir: str,
    checkpoint: str,
    max_dist: int = DEFAULT_MAX_DIST,
    link_mode: str = "all",
    k: int = 1,
):
    """Attach the linkage sink to a dirty-record stream. Returns the
    started StreamingQuery (caller awaits/stops)."""
    return (
        dirty_stream.writeStream.foreachBatch(
            linkage_ingest_sink(
                master_dir, max_dist=max_dist, link_mode=link_mode, k=k
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def compact_linkage_master(
    spark: SparkSession,
    master_dir: str,
    keep_latest: int = 1,
    gram_buckets: int | None = None,
) -> list[int]:
    """Fold the commit-stable prefix of the master and its gram index
    (links stay per-batch — they are RESULTS, not probe state).

    Sidecar folds run UNCONDITIONALLY (not gated on the master fold
    doing work this call): a crash between the master fold and the
    sidecar folds leaves the sidecars lagging, and the next call's
    master fold may be a no-op — the sidecars must still catch up or
    the misalignment persists forever. Aligned state → metadata-cost
    no-ops.

    ``gram_buckets``: fold the gram index bucketed
    (`maintenance.fold_index` over `maintenance.GRAM_INDEX`: sticky
    width, mixed-layout reads, layout-preserving erasure), so
    `probe_master_grams` prunes to its grams' buckets. Use with
    ``keep_latest=0`` to bucket the whole index."""
    # The three folds touch DISJOINT directories (master rows, grams,
    # gramfreq), each with its own crash journal, so they overlap. The
    # sidecar folds stay unconditional.
    return overlap(
        lambda: fold(spark, master_dir, "batch", keep_latest),
        lambda: fold_index(spark, master_dir, GRAM_INDEX, keep_latest, gram_buckets),
        # keyed sum keeps the folded sidecar one row per gram; the
        # reader sums anyway, so this is tightness, not correctness
        lambda: fold(
            spark,
            os.path.join(master_dir, "gramfreq"),
            "batch",
            keep_latest,
            reducer=lambda df: df.groupBy("gram").agg(F.sum("cnt").alias("cnt")),
        ),
    )[0]


__all__ = [
    "admit_novel",
    "compact_linkage_master",
    "link_batch",
    "linkage_ingest_sink",
    "linkage_ingest_stream",
    "probe_master_grams",
    "read_master",
    "read_master_gram_freq",
    "read_master_grams",
    "seed_master_batch",
]
