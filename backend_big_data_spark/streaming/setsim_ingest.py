"""Streaming token-set entity resolution — the SET-SIMILARITY member of
the ingest family (`ingest_dedup` = shingle near-dup, `semdedup_ingest`
= embeddings, `image_ingest` = binary media, `linkage_ingest` =
edit-distance linkage, this = whole-word Jaccard linkage: word order
and count don't matter, whole-word substitutions do).

Per micro-batch of dirty (id, s) records arriving against a master
entity table at ``master_dir``:

1. LINK: every batch record Jaccard-joins the admitted master at
   τ = t_num/t_den via the one-sided prefix probe
   (`operators/setsimjoin.token_jaccard_join_indexed`): the batch's
   rarest-token prefixes are broadcast against the master's MAINTAINED
   token index — candidate generation never re-tokenizes or re-ranks
   the master (the exact verify re-derives the candidates' token arrays
   from master strings in one map-side pass), and the prefix ranks by
   the MAINTAINED per-token counts (``tokfreq`` sidecar), so no probe
   ever aggregates the full index (the linkage sink's gramfreq
   discipline). Links land in ``links/batch=N``.
2. ADMIT: records that matched nothing become new master entities
   (after within-batch exact dedup on the string — min id survives,
   deterministic). Their rows append as ``batch=N``, their distinct
   tokens as ``tokens/batch=N``, and their per-token counts as
   ``tokfreq/batch=N`` — admission maintains the probe state AND its
   ranking statistics, nothing is rebuilt.

Batch-internal NEAR-dups admit as separate entities (the documented
streaming-ER compromise shared with `linkage_ingest`; they link to each
other's rows from the next batch on). Exact duplicates ARE resolved.

Replay safety mirrors the family: ``exclude_batch`` on every master
read plus per-batch directory overwrite make at-least-once retries
rewrite identical links and identical admissions.

Scale: per-batch cost = one tokenize over the BATCH, a broadcast prefix
probe scanning the token index map-side (no index shuffle), and a
candidate-bounded verify keyed on master id. The master fold-compacts
like every family sidecar (`compact_setsim_master`; the token index may
fold token-bucketed — `maintenance.TOKEN_INDEX`), and erasure runs
through `streaming/retraction.retract_from_setsim_master` (the token
sidecar largely reconstructs the erased record's word set, so its purge
is part of the erasure guarantee — same journal protocol as the
linkage master's gram index).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_big_data_spark.operators.setsimjoin import (
    token_index,
    token_jaccard_join_indexed,
)
from backend_big_data_spark.session import overlap
from backend_big_data_spark.streaming.maintenance import (
    TOKEN_INDEX,
    fold,
    fold_index,
    read_covering,
    read_index,
    read_live,
)

DEFAULT_T_NUM = 3
DEFAULT_T_DEN = 5


def read_setsim_master(
    spark: SparkSession, master_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """Admitted master entities (id, s) so far, or None."""
    return read_live(spark, master_dir, exclude=exclude_batch)


def read_master_tokens(
    spark: SparkSession,
    master_dir: str,
    exclude_batch: int | None = None,
    probe_tokens: list[str] | None = None,
) -> DataFrame | None:
    """The maintained (id, token) index over the admitted master:
    `maintenance.read_index` over `maintenance.TOKEN_INDEX` (mixed
    layouts after `compact_setsim_master` with ``token_buckets``;
    ``probe_tokens`` prunes the bucketed bulk to the probe's own
    tokens' buckets)."""
    out = read_index(
        spark, master_dir, TOKEN_INDEX, exclude_batch, probe_keys=probe_tokens
    )
    return None if out is None else out.drop("batch")


def probe_master_tokens(
    spark: SparkSession,
    master_dir: str,
    probe: DataFrame,
    exclude_batch: int | None = None,
) -> DataFrame | None:
    """The token index pruned to a PROBE batch's own tokens — the
    bucketed-layout serving read (vocabulary-bounded driver-side
    collect, like `linkage_ingest.probe_master_grams`). On a flat
    layout this is exactly `read_master_tokens`."""
    from backend_big_data_spark.operators.setsimjoin import ws_tokens

    toks = [
        r["token"]
        for r in probe.select(
            F.explode(ws_tokens(F.col("s"))).alias("token")
        )
        .distinct()
        .collect()
    ]
    return read_master_tokens(
        spark, master_dir, exclude_batch=exclude_batch, probe_tokens=toks
    )


def read_master_token_freq(
    spark: SparkSession, master_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """Per-token totals (token, cnt) from the maintained ``tokfreq``
    sidecar (admissions are id-disjoint across batches, so per-batch
    counts sum to the full index's frequencies exactly). None when the
    sidecar does not cover every token directory — callers then fall
    back to batch-local ranking (result-invariant either way)."""
    return read_covering(
        spark,
        os.path.join(master_dir, "tokfreq"),
        os.path.join(master_dir, "tokens"),
        exclude_batch,
    )


def setsim_link_batch(
    batch: DataFrame,
    master: DataFrame | None,
    master_tokens: DataFrame | None,
    t_num: int = DEFAULT_T_NUM,
    t_den: int = DEFAULT_T_DEN,
    master_token_freq: DataFrame | None = None,
) -> DataFrame:
    """(dirty_id, master_id, inter_cnt, union_cnt) for every batch
    record within Jaccard τ of an admitted master entity (empty frame
    on an empty master)."""
    if master is None or master_tokens is None:
        return batch.sparkSession.createDataFrame(
            [],
            "dirty_id long, master_id long, inter_cnt long, union_cnt long",
        )
    return token_jaccard_join_indexed(
        batch,
        master_tokens,
        master,
        t_num=t_num,
        t_den=t_den,
        index_freq=master_token_freq,
    ).select(
        F.col("probe_id").alias("dirty_id"),
        "master_id",
        "inter_cnt",
        "union_cnt",
    )


def setsim_ingest_sink(
    master_dir: str,
    t_num: int = DEFAULT_T_NUM,
    t_den: int = DEFAULT_T_DEN,
    link_mode: str = "all",
    k: int = 1,
):
    """``foreachBatch`` function maintaining the master table, its token
    index, its token-frequency sidecar, and the per-batch link results
    under ``master_dir``.

    ``link_mode`` selects the recorded-link contract:

    * ``"all"`` (default) — every (batch record, master) pair within τ,
      the candidate-pair shape (rows: dirty_id, master_id, inter_cnt,
      union_cnt).
    * ``"topk"`` — production entity resolution's best-match contract: a
      batch record linking to MANY masters emits only its ``k`` best
      matches, deterministically (exact-fraction Jaccard order via the
      `setsimjoin._topk_rank_key` 2^32-scaled integer key, ties on
      master id ASC — identical semantics to
      `setsimjoin.token_jaccard_topk`). Output is ≤ |batch|·k rows per
      batch no matter how much duplicate mass the master holds (rows:
      dirty_id, master_id, rank, inter_cnt, union_cnt).

    ADMISSION is identical in both modes (a record is novel iff it
    matched nothing at τ — top-k only prunes which links are RECORDED),
    so the maintained master/index/tokfreq state is mode-independent:
    stream≡batch equivalence holds per mode, and switching modes between
    batches never forks the master."""
    if link_mode not in ("all", "topk"):
        raise ValueError(f"link_mode must be 'all' or 'topk', got {link_mode!r}")

    def apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        b = batch.select("id", "s").persist()
        master = read_setsim_master(spark, master_dir, exclude_batch=batch_id)
        toks = read_master_tokens(spark, master_dir, exclude_batch=batch_id)
        tfreq = read_master_token_freq(
            spark, master_dir, exclude_batch=batch_id
        )
        links = setsim_link_batch(
            b, master, toks, t_num=t_num, t_den=t_den, master_token_freq=tfreq
        ).persist()
        out_links = links
        if link_mode == "topk":
            from pyspark.sql import Window

            from backend_big_data_spark.operators.setsimjoin import (
                _topk_rank_key,
            )

            w = Window.partitionBy("dirty_id").orderBy(
                F.desc("__key"), F.asc("master_id")
            )
            out_links = (
                links.withColumn("__key", _topk_rank_key())
                .withColumn("rank", F.row_number().over(w).cast("int"))
                .where(F.col("rank") <= k)
                .select(
                    "dirty_id", "master_id", "rank", "inter_cnt", "union_cnt"
                )
            )
        novel = (
            b.join(
                links.select(F.col("dirty_id").alias("id")).distinct(),
                "id",
                "anti",
            )
            .groupBy("s")
            .agg(F.min("id").alias("id"))
            .select("id", "s")
        )
        bdir = f"batch={batch_id}"
        out_links.write.mode("overwrite").parquet(
            os.path.join(master_dir, "links", bdir)
        )
        novel.write.mode("overwrite").parquet(os.path.join(master_dir, bdir))
        admitted = spark.read.parquet(os.path.join(master_dir, bdir))
        token_index(admitted).write.mode("overwrite").parquet(
            os.path.join(master_dir, "tokens", bdir)
        )
        spark.read.parquet(os.path.join(master_dir, "tokens", bdir)).groupBy(
            "token"
        ).agg(F.count(F.lit(1)).alias("cnt")).write.mode("overwrite").parquet(
            os.path.join(master_dir, "tokfreq", bdir)
        )
        links.unpersist()
        b.unpersist()

    return apply


def seed_setsim_master_batch(
    spark: SparkSession,
    master_dir: str,
    entities: DataFrame,
    batch_id: int,
) -> None:
    """Bulk-load one batch of KNOWN-canonical entities (id, s) into the
    setsim master layout — rows, token index, and tokfreq in lockstep,
    exactly what the sink's ADMIT step writes — skipping the
    link/novelty probe (admission semantics would drop canonical
    entities within Jaccard τ of each other). The
    `linkage_ingest.seed_master_batch` twin. Directory overwrite keeps
    replays idempotent."""
    bdir = f"batch={batch_id}"
    entities.select("id", "s").write.mode("overwrite").parquet(
        os.path.join(master_dir, bdir)
    )
    # tokens and tokfreq both derive from the just-written admitted rows
    # — independent outputs in disjoint dirs
    toks = token_index(spark.read.parquet(os.path.join(master_dir, bdir)))
    overlap(
        lambda: toks.write.mode("overwrite").parquet(
            os.path.join(master_dir, "tokens", bdir)
        ),
        lambda: toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .write.mode("overwrite")
        .parquet(os.path.join(master_dir, "tokfreq", bdir)),
    )


def setsim_ingest_stream(
    dirty_stream: DataFrame,
    master_dir: str,
    checkpoint: str,
    t_num: int = DEFAULT_T_NUM,
    t_den: int = DEFAULT_T_DEN,
    link_mode: str = "all",
    k: int = 1,
):
    """Attach the set-similarity linkage sink to a dirty-record stream.
    Returns the started StreamingQuery (caller awaits/stops)."""
    return (
        dirty_stream.writeStream.foreachBatch(
            setsim_ingest_sink(
                master_dir, t_num=t_num, t_den=t_den,
                link_mode=link_mode, k=k,
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def compact_setsim_master(
    spark: SparkSession,
    master_dir: str,
    keep_latest: int = 1,
    token_buckets: int | None = None,
) -> list[int]:
    """Fold the commit-stable prefix of the master, its token index,
    and its token-frequency sidecar (keyed sum keeps the folded sidecar
    one row per token; links stay per-batch — results, not probe
    state).

    The sidecar folds run UNCONDITIONALLY, not gated on the master fold
    having done work this call: a crash between the master fold and the
    sidecar folds leaves the sidecars lagging the master, and on the
    next call the master fold may find nothing left to do — the
    sidecars must still catch up or the misalignment persists forever
    (and `retraction._purge_index_sidecars` then sees index dirs with
    no master dir). When everything is aligned the extra calls are
    metadata-cost no-ops.

    ``token_buckets``: fold the token index bucketed
    (`maintenance.fold_index` over `maintenance.TOKEN_INDEX`), so
    `probe_master_tokens` prunes to its tokens' buckets."""
    # Disjoint directories, independent crash journals: the three folds
    # overlap (the linkage compactor's pattern).
    return overlap(
        lambda: fold(spark, master_dir, "batch", keep_latest),
        lambda: fold_index(
            spark, master_dir, TOKEN_INDEX, keep_latest, token_buckets
        ),
        lambda: fold(
            spark,
            os.path.join(master_dir, "tokfreq"),
            "batch",
            keep_latest,
            reducer=lambda df: df.groupBy("token").agg(F.sum("cnt").alias("cnt")),
        ),
    )[0]


__all__ = [
    "compact_setsim_master",
    "probe_master_tokens",
    "read_master_token_freq",
    "read_master_tokens",
    "read_setsim_master",
    "seed_setsim_master_batch",
    "setsim_ingest_sink",
    "setsim_ingest_stream",
    "setsim_link_batch",
]
