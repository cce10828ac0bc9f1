"""Corpus retraction — the DELETION half of the maintained-index contract.

The ingest family's sidecars (content-fingerprint Bloom, LSH band index,
dHash columns, gram index, cluster assignments) are all ADDITIVE: content
is scored once at admission and never again. Erasure requests
(right-to-be-forgotten / takedowns) are the case that breaks additive
indexes, and the one a production corpus cannot refuse. This module
removes a set of ids from an at-rest ``{prefix}=N`` directory log AND
brings the sidecars back in line, with the crash-safety discipline of
`streaming/maintenance.py` (publish-before-destroy around a journaled
commit point).

Every erasure in ``streaming/`` runs through ONE primitive,
:func:`journaled`: replay a pending request, plan the new one, journal
it, apply it, clear the journal. A family writes its steps once, as its
``apply``; its ``recover_*`` entry point is the replay alone. The
request journals (``_retract_{linkage,setsim,margin,bm25,lm}_journal.json``)
record the erased ids before any mutation; the publish journals
(``_retract_journal.json``, negdelta's ``_erase_journal.json``) commit a
fully written temp dir (:func:`publish_dir`). The shared steps live
here too: :func:`dirs_holding`, :func:`recount_sidecars`,
:func:`rewrite_dir`.

Correctness is NOT sidecar-dependent for the text corpus, which is what
makes a crash in any window safe there:

- a STALE Bloom bit for a retracted fingerprint causes a false-positive
  prefilter hit; the exact fingerprint semi-join then finds no corpus
  row and the re-ingested document is ADMITTED — no ghost dedup;
- a STALE band-sidecar row yields a candidate id the corpus text fetch
  (an inner semi-join against the rewritten corpus) silently drops;
- a DELETED band sidecar dir is rebuilt from its corpus directory by
  `ingest_dedup.ensure_band_index` (the existing self-healing path).

So sidecar maintenance there is a TIGHTNESS optimisation, while row
removal itself is journaled. Like compaction, run retraction with the
sink quiesced: the brief delete→rename publish window is the same one
`_finish_fold` has.

Retraction deliberately rewrites HISTORY as well: the ids disappear from
every fold-history snapshot (`read_corpus_snapshot`), because erasure
that survives time travel is not erasure.

Scale: the retraction set is request-sized (broadcast literal); each
directory is probed with a column-pruned id scan (parquet footer stats
skip untouched files) and only directories containing hits are
rewritten. Nothing rescans or reshuffles the rest of the corpus.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_big_data_spark.sources import fsutil


def replay(
    spark: SparkSession, journal_path: str, apply: Callable[[dict], object]
) -> None:
    """Run a pending journaled request through ``apply`` and clear the
    journal — the whole of every ``recover_*`` entry point. No journal:
    no step runs."""
    raw = fsutil.read_text(spark, journal_path)
    if raw is None:
        return
    apply(json.loads(raw))
    fsutil.delete(spark, journal_path, recursive=False)


def journaled(
    spark: SparkSession,
    journal_path: str,
    plan_request: Callable[[], dict],
    apply: Callable[[dict], object],
):
    """The one journaled-mutation primitive: replay any pending request,
    build the new one with ``plan_request()`` (probes and pre-erasure
    compaction run here, before the commit point), journal it, run
    ``apply(request)``, clear the journal and return ``apply``'s result.
    ``apply`` must be idempotent: after a crash it reruns in full on the
    same request."""
    replay(spark, journal_path, apply)
    request = plan_request()
    fsutil.write_text_atomic(spark, journal_path, json.dumps(request))
    out = apply(request)
    fsutil.delete(spark, journal_path, recursive=False)
    return out


def _publish_steps(spark: SparkSession, base: str, journal_path: str, label: str):
    """``apply`` of a publish journal ``{"dir", "tmp"[, "bands"]}``. The
    journal certifies the temp dir was COMPLETE when it committed, so
    every step is safe to repeat: publish temp over the target (a null
    ``tmp`` publishes as a DELETE), drop the recorded band sidecar dir."""

    def apply(meta: dict) -> None:
        target = os.path.join(base, meta["dir"])
        if meta["tmp"] is None:
            fsutil.delete(spark, target)
        else:
            tmp = os.path.join(base, meta["tmp"])
            if fsutil.exists(spark, tmp):
                fsutil.delete(spark, target)
                fsutil.rename_checked(spark, tmp, target)
            if not fsutil.exists(spark, target):
                raise RuntimeError(
                    f"{label} journal {journal_path} names {meta['dir']} "
                    f"but neither it nor {meta['tmp']} exists"
                )
        if meta.get("bands"):
            fsutil.delete(spark, os.path.join(base, meta["bands"]))

    return apply


def publish_dir(
    spark: SparkSession, base: str, journal_path: str, meta: dict, label: str
) -> None:
    """Publish the fully written temp dir ``meta["tmp"]`` as
    ``{base}/{meta["dir"]}`` behind a commit-point journal. A temp dir
    with no journal is a pre-commit crash: readers never list it and the
    next write of the same temp name overwrites it (roll back)."""
    journaled(
        spark,
        journal_path,
        lambda: meta,
        _publish_steps(spark, base, journal_path, label),
    )


def recover_publish(
    spark: SparkSession, base: str, journal_path: str, label: str
) -> None:
    """Roll a committed :func:`publish_dir` forward (idempotent)."""
    replay(spark, journal_path, _publish_steps(spark, base, journal_path, label))


def dirs_holding(
    spark: SparkSession,
    base: str,
    ids: list,
    id_col: str = "id",
    prefix: str = "batch",
) -> dict[str, int]:
    """``{prefix}=N`` dir name → number of its rows naming one of
    ``ids``, for the dirs under ``base`` that hold any. Every dir on disk
    is probed, a superseded fold source too: erasure must reach every
    copy. One column-pruned, partition-discovered probe over
    `maintenance.read_dirs` (one read per directory LAYOUT: flat dirs
    and dirs partitioned by a column — a bucketed fold, the
    cluster-partitioned embedding corpus — may mix)."""
    from backend_big_data_spark.streaming.maintenance import read_dirs

    names = fsutil.list_subdirs(spark, base, prefix=f"{prefix}=")
    if not names or not ids:
        return {}
    probe = read_dirs(spark, base, names)
    return {
        f"{prefix}={r[prefix]}": r["n"]
        for r in probe.filter(F.col(id_col).isin([F.lit(i) for i in ids]))
        .groupBy(prefix)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def rewrite_dir(
    spark: SparkSession, base: str, name: str, frame: DataFrame
) -> None:
    """Replace ``{base}/{name}`` with ``frame``: write a ``_recount_*``
    temp dir, delete the old dir, checked rename. A silent rename
    failure after the delete would lose the dir once the caller's
    journal clears, so the rename raises instead and the journal stays
    pending."""
    tmp = os.path.join(base, "_recount_" + name.replace("=", "_"))
    frame.write.mode("overwrite").parquet(tmp)
    fsutil.delete(spark, os.path.join(base, name))
    fsutil.rename_checked(spark, tmp, os.path.join(base, name))


def recount_sidecars(
    spark: SparkSession,
    base: str,
    doc_dirs: list[str],
    sides: dict[str, Callable[[DataFrame], DataFrame]],
) -> list[str]:
    """Rebuild-to-match-layout for AGGREGATE sidecars of a ``batch=N``
    documents log (rows carry no id, so they are recounted, not
    filtered): ``{side}/batch=N`` is rewritten as ``sides[side]`` over
    the current (post-removal) docs dir, for every affected dir in
    ``doc_dirs``. Orphaned sidecar dirs — the docs dir was folded away
    before the sidecar folds ran — are deleted AFTER the folded docs dir
    that covers them (`maintenance.fold_history`) is recounted; an
    orphan with no cover falls back to recounting every docs dir. All
    of it is computed from the current state, so a replay is a fixed
    point. Returns the rewritten ``side/batch=N`` names."""
    from backend_big_data_spark.streaming.maintenance import fold_history

    doc_names = set(fsutil.list_subdirs(spark, base, prefix="batch="))
    targets = set(doc_dirs) & doc_names
    cover = {
        orig: f"batch={pub}"
        for pub, origs in fold_history(spark, base, "batch").items()
        for orig in origs
    }
    orphans: dict[str, list[str]] = {}
    for side in sides:
        side_names = fsutil.list_subdirs(
            spark, os.path.join(base, side), prefix="batch="
        )
        orphans[side] = sorted(set(side_names) - doc_names)
        for name in orphans[side]:
            covering = cover.get(int(name.split("=", 1)[1]))
            if covering in doc_names:
                targets.add(covering)
            else:
                targets = set(doc_names)  # unexplained orphan: recount all
    rebuilt = []
    for side, recount in sides.items():
        side_base = os.path.join(base, side)
        for name in sorted(targets):
            frame = recount(spark.read.parquet(os.path.join(base, name)))
            rewrite_dir(spark, side_base, name, frame)
            rebuilt.append(f"{side}/{name}")
        # orphans go LAST: until the covering recount lands, the orphan
        # still holds its batch's (non-erased) mass — a reader in the
        # window sees at worst a transient over-count, never a loss
        for name in orphans[side]:
            fsutil.delete(spark, os.path.join(side_base, name))
    return rebuilt


def _journal_path(base: str) -> str:
    return os.path.join(base, "_retract_journal.json")


def recover_retraction(spark: SparkSession, base: str) -> None:
    """Roll a crashed row-removal publish forward (idempotent; called on
    entry by :func:`retract_ids`)."""
    recover_publish(spark, base, _journal_path(base), "retraction")


def retract_ids(
    spark: SparkSession,
    base: str,
    ids: list,
    id_col: str = "doc_id",
    prefix: str = "batch",
    partition_by: tuple[str, ...] = (),
    drop_band_sidecar: bool = True,
) -> dict:
    """Remove ``ids`` from every ``{prefix}=N`` directory under ``base``
    (including fold-compacted ones — their names are the same), deleting
    each affected directory's band sidecar for rebuild. Returns
    ``{"dirs_rewritten": [...], "rows_removed": n}``.

    ``partition_by``: partition columns of the at-rest layout (the
    embedding corpus is laid out by ``cluster``) so the rewrite
    preserves it."""
    recover_retraction(spark, base)
    from backend_big_data_spark.streaming.maintenance import recover_fold

    # resolve any pending fold first: its superseded source dirs are
    # deleted by the fold, not rewritten here
    recover_fold(spark, base, prefix)
    hits = dirs_holding(spark, base, ids, id_col, prefix)
    lits = [F.lit(i) for i in ids]
    for name in sorted(hits):
        df = spark.read.parquet(os.path.join(base, name))
        # explicit isNull arm: ``~isin`` is NULL (not true) for a NULL id,
        # so without it null-id rows would be deleted as collateral
        surviving = df.filter(
            F.col(id_col).isNull() | ~F.col(id_col).isin(lits)
        )
        bands_rel = (
            os.path.join("bands", name)
            if drop_band_sidecar
            and fsutil.exists(spark, os.path.join(base, "bands", name))
            else None
        )
        _journaled_replace(
            spark, base, name, surviving, partition_by, bands_rel
        )
    return {"dirs_rewritten": sorted(hits), "rows_removed": sum(hits.values())}


def _journaled_replace(
    spark: SparkSession,
    base: str,
    rel_dir: str,
    surviving,
    partition_by: tuple[str, ...] = (),
    bands_rel: str | None = None,
) -> None:
    """Publish ``surviving`` over ``{base}/{rel_dir}`` behind the
    retraction journal (:func:`publish_dir`), dropping ``bands_rel``
    with it. An EMPTY frame publishes as a directory DELETE — an empty
    parquet dir would break the union readers."""
    if surviving.isEmpty():
        tmp_name = None
    else:
        tmp_name = "_retracting_" + rel_dir.replace("/", "_").replace("=", "_")
        writer = surviving.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(os.path.join(base, tmp_name))
    meta = {"dir": rel_dir, "tmp": tmp_name, "bands": bands_rel}
    publish_dir(spark, base, _journal_path(base), meta, "retraction")


def retract_from_ingest_corpus(
    spark: SparkSession, corpus_dir: str, doc_ids: list
) -> dict:
    """Erase documents from a text ingest corpus
    (`streaming/ingest_dedup.py` layout): journaled row removal, band
    sidecar dirs dropped for self-healing rebuild, and the Bloom sidecar
    rebuilt tight from the surviving directories (stale bits would only
    cost false-positive prefilter hits, but a tight bitmap keeps the
    probe's selectivity honest)."""
    out = retract_ids(spark, corpus_dir, doc_ids, id_col="doc_id")
    if out["dirs_rewritten"]:
        from backend_big_data_spark.streaming.ingest_dedup import (
            _bloom_path,
            load_corpus_bloom,
            save_corpus_bloom,
        )

        fsutil.delete(spark, _bloom_path(corpus_dir), recursive=False)
        words, covered = load_corpus_bloom(spark, corpus_dir)
        if words is not None:
            save_corpus_bloom(spark, corpus_dir, words, covered)
    return out


def retract_from_embedding_corpus(
    spark: SparkSession, corpus_dir: str, vec_ids: list, id_col: str = "vec_id"
) -> dict:
    """Erase vectors from a semdedup embedding corpus
    (`streaming/semdedup_ingest.py` layout): journaled row removal that
    PRESERVES the cluster-partitioned directory layout (the incremental
    probe's dynamic partition pruning depends on it). The corpus' only
    maintained per-row state is the stored ``cluster`` id, which leaves
    with the row; the pinned centroid frame is aggregate blocking
    statistics, not per-vector content, so it is deliberately untouched
    — future batches keep clustering consistently, and a re-ingested
    twin of an erased vector is ADMITTED because the corpus no longer
    holds its neighbor (no ghost dedup)."""
    return retract_ids(
        spark,
        corpus_dir,
        vec_ids,
        id_col=id_col,
        partition_by=("cluster",),
        drop_band_sidecar=False,
    )


def retract_from_image_corpus(
    spark: SparkSession, corpus_dir: str, media_ids: list
) -> dict:
    """Erase images from an image ingest corpus
    (`streaming/image_ingest.py` layout): journaled row removal takes the
    payload AND its maintained in-row ``dhash`` fingerprint together (the
    probe computes band keys from the corpus scan per batch, so there is
    no separate band sidecar to chase), and quarantine rows naming the
    erased ids are purged too — a quarantined media_id is still a record
    that the content arrived."""
    out = retract_ids(spark, corpus_dir, media_ids, id_col="media_id")
    qbase = os.path.join(corpus_dir, "quarantine")
    if fsutil.exists(spark, qbase):
        q = retract_ids(
            spark, qbase, media_ids, id_col="media_id", drop_band_sidecar=False
        )
        out["quarantine_rows_removed"] = q["rows_removed"]
    else:
        out["quarantine_rows_removed"] = 0
    return out


def _purge_index_sidecars(
    spark: SparkSession,
    master_dir: str,
    ids: list,
    rebuild,
    index,
    freq_name: str | None = None,
) -> list[str]:
    """Rewrite every inverted-index/frequency sidecar directory still
    naming a retracted id, from its (already rewritten) master directory
    — UNCONDITIONAL: affected dirs are detected by probing the index
    sidecars for the ids themselves, never inferred from a prior step's
    return value, so the purge is idempotent and replayable after any
    crash. Per directory the frequency rewrite runs FIRST: ghost (id,
    key) index rows are the durable marker that a directory's sidecars
    are not yet purged, so the marker must be destroyed last.

    ``rebuild(master_df) -> (id, key) index frame``. The linkage and
    setsim masters pass their ``index`` layout (`maintenance.GRAM_INDEX`
    / `maintenance.TOKEN_INDEX`) and frequency sidecar (``gramfreq`` /
    ``tokfreq``, the per-key count of the index); the margin master's
    never-bucketed index passes only its directory name, ``"buckets"``.

    With a layout of recorded width, the rewrite of a dir carrying
    the bucket partition column recomputes the bucket
    (`maintenance.bucket_column`) and publishes PARTITIONED BY it —
    erasure preserves each directory's own layout (the probe,
    :func:`dirs_holding`, already reads each layout separately)."""
    from backend_big_data_spark.streaming.maintenance import (
        bucket_column,
        index_width,
    )

    layout = None if isinstance(index, str) else index
    index_name = index if layout is None else layout.subdir
    index_base = os.path.join(master_dir, index_name)
    n_buckets = index_width(spark, master_dir, layout) if layout else None
    lits = [F.lit(i) for i in ids]
    hit = sorted(dirs_holding(spark, index_base, ids))
    for name in hit:
        master_path = os.path.join(master_dir, name)
        index_rel = os.path.join(index_name, name)
        bucketed = bool(n_buckets) and bool(
            fsutil.list_subdirs(
                spark,
                os.path.join(index_base, name),
                prefix=f"{layout.bucket_col}=",
            )
        )
        if fsutil.exists(spark, master_path):
            fresh = rebuild(spark.read.parquet(master_path))
            if bucketed:
                fresh = fresh.withColumn(
                    layout.bucket_col, bucket_column(layout, n_buckets)
                )
        else:
            # Master dir absent for this batch id: its rows were folded
            # into an older master dir and the sidecar folds never ran (a
            # compaction crash between the master fold and the sidecar
            # folds — the compactors re-align this on their next run, but
            # a retraction may arrive first). The sidecar dir still holds
            # LIVE index rows of every OTHER entity admitted in that
            # batch, so deleting the dir would silently lose their future
            # links. Rewrite in place instead: keep everything but the
            # retracted ids (NULL ids survive — isin is NULL-poisoning),
            # recount the frequency sidecar from the kept rows.
            fresh = spark.read.parquet(
                os.path.join(index_base, name)
            ).filter(F.col("id").isNull() | ~F.col("id").isin(lits))
        if freq_name and fsutil.exists(
            spark, os.path.join(master_dir, freq_name, name)
        ):
            _journaled_replace(
                spark,
                master_dir,
                os.path.join(freq_name, name),
                fresh.groupBy(layout.key_col).agg(F.count(F.lit(1)).alias("cnt")),
            )
        _journaled_replace(
            spark,
            master_dir,
            index_rel,
            fresh,
            partition_by=(layout.bucket_col,) if bucketed else (),
        )
    return hit


def _purge_margin_moments(
    spark: SparkSession, master_dir: str, names: list, dim: int
) -> list[str]:
    """Re-derive (or drop) the covariance moment sidecar of every
    journaled affected batch. Moments are AGGREGATES — they embed the
    erased vector's products — so erasure must not leave them: a batch
    whose (already rewritten) master dir survives gets its moments
    RECOUNTED from the surviving rows (idempotent — recount of current
    state); an orphan moment dir (master folded away, the compaction
    crash window) is DELETED, breaking `read_master_moments` coverage so
    callers fall back to the full-scan covariance — result-invariant,
    never a leak."""
    from backend_big_data_spark.similarity.pca import embedding_moments

    touched: list[str] = []
    for name in names:
        mo_rel = os.path.join("moments", name)
        if not fsutil.exists(spark, os.path.join(master_dir, mo_rel)):
            continue
        master_path = os.path.join(master_dir, name)
        if fsutil.exists(spark, master_path):
            fresh = embedding_moments(spark.read.parquet(master_path), dim=dim)
            _journaled_replace(spark, master_dir, mo_rel, fresh)
        else:
            fsutil.delete(spark, os.path.join(master_dir, mo_rel), recursive=True)
        touched.append(name)
    return touched


def _master_erasure(spark: SparkSession, master_dir: str, purge_sidecars):
    """``apply`` shared by the entity masters: row removal, the family's
    sidecar purge (``purge_sidecars(request) -> result keys``), then the
    purge of link rows naming the erased master ids (derived personal
    data goes with the entity)."""

    def apply(req: dict) -> dict:
        out = retract_ids(
            spark, master_dir, req["ids"], id_col="id", drop_band_sidecar=False
        )
        out.update(purge_sidecars(req))
        out["link_rows_removed"] = retract_ids(
            spark,
            os.path.join(master_dir, "links"),
            req["ids"],
            id_col="master_id",
            drop_band_sidecar=False,
        )["rows_removed"]
        return out

    return apply


def _linkage_journal_path(master_dir: str) -> str:
    return os.path.join(master_dir, "_retract_linkage_journal.json")


def _linkage_erasure(spark: SparkSession, master_dir: str):
    from backend_big_data_spark.operators.fuzzyjoin import gram_index
    from backend_big_data_spark.streaming.maintenance import GRAM_INDEX

    return _master_erasure(
        spark,
        master_dir,
        lambda req: {
            "gram_dirs_rewritten": _purge_index_sidecars(
                spark,
                master_dir,
                req["ids"],
                lambda df: gram_index(df, q=req["q"]),
                GRAM_INDEX,
                "gramfreq",
            )
        },
    )


def recover_linkage_retraction(spark: SparkSession, master_dir: str) -> None:
    """Replay a crashed `retract_from_linkage_master` (idempotent;
    called on entry)."""
    replay(
        spark,
        _linkage_journal_path(master_dir),
        _linkage_erasure(spark, master_dir),
    )


def retract_from_linkage_master(
    spark: SparkSession, master_dir: str, ids: list, q: int = 3
) -> dict:
    """Erase entities from a linkage master
    (`streaming/linkage_ingest.py` layout): journaled row removal, every
    gram-index and gram-frequency sidecar directory still naming an
    erased id REWRITTEN from its surviving master rows, and link-result
    rows naming the erased master ids purged from ``links/batch=N``.

    The whole sequence runs under :func:`journaled` with the request
    (ids, q) recorded up front: unlike the text corpus's Bloom/band
    sidecars (where staleness only costs false-positive candidates),
    ghost gram rows largely RECONSTRUCT the erased string, so the
    sidecar purge is part of the erasure guarantee, not a tightness
    optimisation — it must survive a crash in any window. Sidecar purge
    targets are detected by probing the sidecars for the ids (never
    keyed off which master dirs the row removal happened to rewrite),
    so the replay is unconditional and idempotent."""
    return journaled(
        spark,
        _linkage_journal_path(master_dir),
        lambda: {"ids": list(ids), "q": q},
        _linkage_erasure(spark, master_dir),
    )


def _setsim_journal_path(master_dir: str) -> str:
    return os.path.join(master_dir, "_retract_setsim_journal.json")


def _setsim_erasure(spark: SparkSession, master_dir: str):
    from backend_big_data_spark.operators.setsimjoin import token_index
    from backend_big_data_spark.streaming.maintenance import TOKEN_INDEX

    return _master_erasure(
        spark,
        master_dir,
        lambda req: {
            "token_dirs_rewritten": _purge_index_sidecars(
                spark,
                master_dir,
                req["ids"],
                token_index,
                TOKEN_INDEX,
                "tokfreq",
            )
        },
    )


def recover_setsim_retraction(spark: SparkSession, master_dir: str) -> None:
    """Replay a crashed `retract_from_setsim_master` (idempotent;
    called on entry)."""
    replay(
        spark,
        _setsim_journal_path(master_dir),
        _setsim_erasure(spark, master_dir),
    )


def retract_from_setsim_master(
    spark: SparkSession, master_dir: str, ids: list
) -> dict:
    """Erase entities from a set-similarity linkage master
    (`streaming/setsim_ingest.py` layout): journaled row removal, every
    token-index and token-frequency sidecar directory still naming an
    erased id REWRITTEN from its surviving master rows, and link rows
    naming the erased master ids purged. The token index reconstructs
    the erased record's word set, so its purge is part of the erasure
    guarantee (see :func:`retract_from_linkage_master`)."""
    return journaled(
        spark,
        _setsim_journal_path(master_dir),
        lambda: {"ids": list(ids)},
        _setsim_erasure(spark, master_dir),
    )


def _margin_journal_path(master_dir: str) -> str:
    return os.path.join(master_dir, "_retract_margin_journal.json")


def _margin_erasure(spark: SparkSession, master_dir: str):
    from backend_big_data_spark.streaming.margin_ingest import bucket_index

    return _master_erasure(
        spark,
        master_dir,
        lambda req: {
            "moment_dirs_rewritten": _purge_margin_moments(
                spark, master_dir, req.get("moment_dirs", []), req["dim"]
            ),
            # the margin master keeps no frequency sidecar
            "bucket_dirs_rewritten": _purge_index_sidecars(
                spark,
                master_dir,
                req["ids"],
                lambda df: bucket_index(
                    df,
                    dim=req["dim"],
                    num_bits=req["num_bits"],
                    num_tables=req["num_tables"],
                ),
                "buckets",
            ),
        },
    )


def recover_margin_retraction(spark: SparkSession, master_dir: str) -> None:
    """Replay a crashed `retract_from_margin_master` (idempotent;
    called on entry)."""
    replay(
        spark,
        _margin_journal_path(master_dir),
        _margin_erasure(spark, master_dir),
    )


def retract_from_margin_master(
    spark: SparkSession,
    master_dir: str,
    ids: list,
    *,
    dim: int,
    num_bits: int = 6,
    num_tables: int = 6,
) -> dict:
    """Erase entities from an embedding linkage master
    (`streaming/margin_ingest.py` layout): journaled row removal, every
    bucket-sidecar directory still naming an erased id REWRITTEN from
    its surviving master rows, the covariance moments of every affected
    batch recounted, and link rows naming the erased master ids purged
    (see :func:`retract_from_linkage_master` for the crash-window
    argument). The bucket keys localize the erased record in LSH space,
    so their purge is part of the erasure guarantee.

    The request journals the LSH geometry (the bucket rebuild needs
    dim/bits/tables, and a replay must not depend on the caller
    re-supplying them correctly; they must match the sink's) and the
    ``moment_dirs``: the batch=N names whose BUCKET index OR master rows
    still name an erased id, probed before any mutation. Moment sidecars
    carry no ids, so the id-keyed layers are the durable markers of
    which batches an erased entity touched. BOTH are probed because a
    master-only fold (the compaction crash window) can relocate a row's
    master dir away from its bucket dir: the bucket hit names the orphan
    moment dir to DELETE, the master hit the fold-target moment dir to
    RECOUNT."""

    def plan() -> dict:
        moment_dirs = set(
            dirs_holding(spark, os.path.join(master_dir, "buckets"), ids)
        ) | set(dirs_holding(spark, master_dir, ids))
        return {
            "ids": list(ids),
            "dim": dim,
            "num_bits": num_bits,
            "num_tables": num_tables,
            "moment_dirs": sorted(moment_dirs),
        }

    return journaled(
        spark,
        _margin_journal_path(master_dir),
        plan,
        _margin_erasure(spark, master_dir),
    )


__all__ = [
    "dirs_holding",
    "journaled",
    "publish_dir",
    "recount_sidecars",
    "recover_linkage_retraction",
    "recover_margin_retraction",
    "recover_publish",
    "recover_retraction",
    "recover_setsim_retraction",
    "replay",
    "retract_from_embedding_corpus",
    "retract_from_image_corpus",
    "retract_from_ingest_corpus",
    "retract_from_linkage_master",
    "retract_from_margin_master",
    "retract_from_setsim_master",
    "retract_ids",
    "rewrite_dir",
]
