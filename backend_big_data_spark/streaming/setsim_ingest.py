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
like every family sidecar (`compact_setsim_master`), and erasure runs
through `streaming/retraction.retract_from_setsim_master` (the token
sidecar largely reconstructs the erased record's word set, so its purge
is part of the erasure guarantee — same journal protocol as the
linkage master's gram index).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_big_data_spark.operators.setsimjoin import (
    token_index,
    token_jaccard_join_indexed,
)
from backend_big_data_spark.session import overlap
from backend_big_data_spark.sources import fsutil
from backend_big_data_spark.streaming.linkage_ingest import (
    _covered_names,
    _gram_bucket_py as _bucket_py,  # md5-60-bit % n — shared bucket hash
    _read_dirs,
)

DEFAULT_T_NUM = 3
DEFAULT_T_DEN = 5

#: Token-bucketed at-rest layout (round 12 — the BM25/linkage bucket fold
#: applied to the setsim token index): folded token dirs live under
#: ``tokens/batch=N/__tb=B`` with ``B = stable_hash(token) % n_buckets``,
#: so a probe's at-rest index read prunes to ITS tokens' buckets at the
#: directory level — listing cost tracks the probe, not the index.
_TOKEN_BUCKET_META = "_token_buckets.json"


def _token_bucket_count(spark: SparkSession, master_dir: str) -> int | None:
    raw = fsutil.read_text(
        spark, os.path.join(master_dir, "tokens", _TOKEN_BUCKET_META)
    )
    return json.loads(raw)["n_buckets"] if raw else None


def read_setsim_master(
    spark: SparkSession, master_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """Admitted master entities (id, s) so far, or None."""
    return _read_dirs(spark, master_dir, exclude_batch)


def read_master_tokens(
    spark: SparkSession,
    master_dir: str,
    exclude_batch: int | None = None,
    probe_tokens: list[str] | None = None,
) -> DataFrame | None:
    """The maintained (id, token) index over the admitted master.

    Handles MIXED layouts after a token-bucketed fold
    (`compact_setsim_master` with ``token_buckets``): folded dirs carry
    the ``__tb`` partition column, the un-folded tail doesn't — per-dir
    reads unioned by name. With ``probe_tokens`` given and a bucketed
    layout present, the bucket filter prunes the folded bulk to the
    probe's own tokens' buckets at the DIRECTORY level
    (PartitionFilters); the flat tail passes the null arm. Pruning is
    result-invariant for any candidate join keyed on the probe's
    tokens — the linkage gram reader's argument verbatim."""
    from backend_big_data_spark.streaming.maintenance import fold_exclusions

    base = os.path.join(master_dir, "tokens")
    skip = fold_exclusions(spark, base, "batch")
    names = [
        n
        for n in fsutil.list_subdirs(spark, base, prefix="batch=")
        if n != f"batch={exclude_batch}" and n not in skip
    ]
    if not names:
        return None
    frames = [
        spark.read.option("basePath", base).parquet(os.path.join(base, n))
        for n in names
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    if "batch" in out.columns:
        out = out.drop("batch")
    n_buckets = _token_bucket_count(spark, master_dir)
    if n_buckets and probe_tokens is not None and "__tb" in out.columns:
        buckets = sorted({_bucket_py(t, n_buckets) for t in probe_tokens})
        out = out.filter(
            F.col("__tb").isNull() | F.col("__tb").isin(buckets)
        )
    return out.drop("__tb") if "__tb" in out.columns else out


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
    tf_base = os.path.join(master_dir, "tokfreq")
    names = _covered_names(spark, tf_base, exclude_batch)
    if not names or names != _covered_names(
        spark, os.path.join(master_dir, "tokens"), exclude_batch
    ):
        return None
    return spark.read.option("basePath", tf_base).parquet(
        *[os.path.join(tf_base, n) for n in sorted(names)]
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

    ``token_buckets``: lay the folded token index out PARTITIONED BY
    ``__tb = stable_hash(token) % token_buckets`` — probes then prune
    the folded bulk to their own tokens' buckets at the directory level
    (`read_master_tokens` with ``probe_tokens`` /
    `probe_master_tokens`). Sticky width, mixed-layout reader,
    layout-preserving erasure — the linkage gram fold's contract
    verbatim."""
    from backend_big_data_spark.streaming.maintenance import _fold
    from backend_big_data_spark.text.sampling import stable_hash

    if token_buckets is None:
        token_buckets = _token_bucket_count(spark, master_dir)
    tokens_dir = os.path.join(master_dir, "tokens")
    tokfreq_dir = os.path.join(master_dir, "tokfreq")

    # Disjoint directories, independent crash journals: the three folds
    # overlap (the linkage compactor's pattern).
    def _fold_master() -> list[int]:
        return _fold(spark, master_dir, "batch", keep_latest)

    def _fold_tokens() -> None:
        if not fsutil.list_subdirs(spark, tokens_dir, prefix="batch="):
            return
        if token_buckets:
            _fold(
                spark,
                tokens_dir,
                "batch",
                keep_latest,
                reducer=lambda df: (
                    df.drop("__tb") if "__tb" in df.columns else df
                )
                .withColumn(
                    "__tb",
                    (stable_hash(F.col("token")) % token_buckets).cast(
                        "int"
                    ),
                )
                .sortWithinPartitions("__tb", "token"),
                partition_by=("__tb",),
            )
            fsutil.write_text_atomic(
                spark,
                os.path.join(tokens_dir, _TOKEN_BUCKET_META),
                json.dumps({"n_buckets": int(token_buckets)}),
            )
        else:
            _fold(
                spark,
                tokens_dir,
                "batch",
                keep_latest,
                reducer=lambda df: (
                    df.drop("__tb") if "__tb" in df.columns else df
                ),
            )

    def _fold_tokfreq() -> None:
        if not fsutil.list_subdirs(spark, tokfreq_dir, prefix="batch="):
            return
        _fold(
            spark,
            tokfreq_dir,
            "batch",
            keep_latest,
            reducer=lambda df: df.groupBy("token").agg(
                F.sum("cnt").alias("cnt")
            ),
        )

    return overlap(_fold_master, _fold_tokens, _fold_tokfreq)[0]


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
