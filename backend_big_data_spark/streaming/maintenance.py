"""Log-structured sidecar compaction — the periodic delta-folding the
ingest sinks' docstrings promise (`sources/compaction.py` is the
general-purpose file compactor; this module folds the sinks' SEMANTIC
log structure: ``batch=N`` survivor dirs, ``bands/batch=N`` index rows,
``delta=N`` token-count deltas) — and the one owner of every rule about
the on-disk layout of a maintained directory: which dirs a reader
unions, how it reads them, and the bucketed-index layout.

Why fold at all: every per-batch directory adds a file-listing + footer
cost to every subsequent probe, and the reader-side merge of the drift
counts grows with the delta count. Folding rewrites many directories
into one while preserving EXACTLY the read semantics (the readers union
directories and, for counts, sum by key — folding is the same union/sum
done once and persisted).

Replay safety: a directory may only be folded once its batch can never
replay. Structured Streaming replays at most the batches after the last
committed checkpoint — in practice the newest one — so both compactors
keep the ``keep_latest`` newest directories untouched (default 1) and
fold only the older, commit-stable prefix. Folded ids cease to exist as
directories; that is safe precisely because those ids will never be
offered to ``exclude_batch`` again.

Crash safety: the fold PUBLISHES before it DESTROYS. The folded union is
first written to a ``_compacting_{prefix}_N`` temp dir; only once that
copy is complete is a one-line journal (``_fold_journal_{prefix}.json``)
committed atomically, after which the publish + source deletion proceed.
Every state an interruption can leave behind is resolvable from the two
markers alone, and :func:`recover_fold` — called by the compactors
themselves — resolves it:

* temp dir present, **no journal** → the folded copy may be partial;
  roll BACK (delete the temp dir; all source dirs are still intact).
* **journal present** → the folded copy was complete when the journal
  committed; roll FORWARD (publish the temp dir over the oldest source
  id if not yet done, then delete the remaining source dirs and the
  journal). Re-running any suffix of these steps is idempotent.

Mutating recovery runs ONLY in the compactor (one compaction at a time
per directory — the same single-writer contract the ``batch=N`` layout
already assumes). Readers must stay correct too, but a reader that
deleted or renamed anything could destroy a LIVE compactor's
in-progress fold, so readers instead apply the non-mutating
:func:`fold_exclusions` mask: in every crash state the on-disk
directories plus the journal determine an exact read —

* no journal → read every ``{prefix}=N`` dir (a journal-less temp dir
  is invisible to readers and its sources are intact);
* journal + temp dir → the fold is unpublished; sources are
  authoritative, exclude nothing;
* journal, temp gone → the fold WAS published; exclude the journaled
  source dirs that were superseded but not yet deleted (otherwise their
  content double-counts).

The only reader-visible transient is racing a live compactor between
its publish and its last source delete: a reader may briefly see some
folded content twice (over-count / re-verify — the safe direction).
No interleaving ever makes folded content silently disappear.

The reader rule: every maintained-state reader in ``streaming/`` reads
:func:`live_dirs` — the ``{prefix}=N`` dirs on disk, minus the mask
above, minus the replaying batch's own dir — through :func:`read_dirs`,
one ``basePath`` read per directory layout (flat, bucketed fold,
cluster-partitioned) unioned by name, so the ``{prefix}`` partition
column surfaces and a mixed layout never reaches a single multi-path
read (a reader that passes its schema vouches for one layout and skips
the probe). :func:`read_live` is the two together; :func:`read_covering`
adds the "summary sidecar covers its directory" check. :func:`fold`
reads its sources with their merged schema: it rewrites them for good,
so a column only newer dirs carry must survive.

Bucketed indexes: an (id, key) index may be folded PARTITIONED BY a
bucket column ``stable_hash(key) % width`` (md5, 60 bits), so a probe's
read prunes to its own keys' buckets at the directory level. The width
is recorded in a width file (``{"n_buckets": width}``) beside the
``batch=N`` dirs and is sticky across folds; dirs admitted after a
bucketed fold stay flat until the next one. :class:`BucketedIndex`
names one family's layout; :func:`read_index`, :func:`fold_index`,
:func:`index_width`, :func:`bucket_of` and :func:`bucket_column` are the
only code that knows it.

| layout           | index directory        | key → bucket column  | width file             |
|------------------|------------------------|----------------------|------------------------|
| `GRAM_INDEX`     | ``{master}/grams``     | ``gram`` → ``__gb``  | ``_gram_buckets.json`` |
| `TOKEN_INDEX`    | ``{master}/tokens``    | ``token`` → ``__tb`` | ``_token_buckets.json``|
| `POSTINGS_INDEX` | ``{index}/postings``   | ``term`` → ``__tb``  | ``_term_buckets.json`` |

Bloom sidecar: folding renames directories, not fingerprints — the
bitmap's bits are unchanged. The sidecar's covered-batch list is
rewritten to the post-fold directory set so `load_corpus_bloom` keeps
trusting it instead of triggering a full rebuild; a crash before that
rewrite leaves a covered-list mismatch, which `load_corpus_bloom`
already treats as "rebuild from the directories" — consistent, just
slower once.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_big_data_spark.sources import fsutil
from backend_big_data_spark.text.sampling import stable_hash


def _batch_ids(spark: SparkSession, base: str, prefix: str) -> list[int]:
    return sorted(
        int(n.split("=", 1)[1])
        for n in fsutil.list_subdirs(spark, base, prefix=prefix + "=")
    )


def _journal_path(base: str, prefix: str) -> str:
    return os.path.join(base, f"_fold_journal_{prefix}.json")


def _history_path(base: str, prefix: str) -> str:
    return os.path.join(base, f"_fold_history_{prefix}.json")


def fold_history(spark: SparkSession, base: str, prefix: str) -> dict[int, list[int]]:
    """Which original batch ids each surviving folded ``{prefix}=N`` dir
    covers: ``{published_id: sorted original ids}``. Directories that
    were never folded are absent (they cover exactly themselves). The
    sidecar is maintained inside the fold's journaled commit protocol
    (see `_finish_fold`), so it is exactly as crash-consistent as the
    fold itself."""
    text = fsutil.read_text(spark, _history_path(base, prefix))
    if text is None:
        return {}
    return {int(k): v for k, v in json.loads(text)["folds"].items()}


def _with_fold(hist: dict[int, list[int]], meta: dict) -> dict[int, list[int]]:
    """``hist`` after the journaled fold ``meta``: its source ids' coverage
    moves onto the published id. Computed from the prior history, not the
    meta, so journals written before the history sidecar existed still
    fold their constituents' coverage correctly."""
    covered = sorted({o for i in meta["delete"] for o in hist.get(i, [i])})
    for i in meta["delete"]:
        hist.pop(i, None)
    hist[meta["publish"]] = covered
    return hist


def _finish_fold(spark: SparkSession, base: str, prefix: str, meta: dict) -> None:
    """Run (or re-run) the post-journal steps of a fold; idempotent.

    The journal's existence certifies the temp dir held the COMPLETE
    folded union when it was committed, so every step here is safe to
    repeat: publish the temp dir as ``{prefix}={publish}`` (superseding
    the source dir of the same id), then — only after the publish is
    visible — delete the remaining source dirs, then drop the journal.
    """
    tmp = os.path.join(base, meta["tmp"])
    target = os.path.join(base, f"{prefix}={meta['publish']}")
    if fsutil.exists(spark, tmp):
        # Superseded source dir of the same id: its rows are inside tmp.
        fsutil.delete(spark, target)
        fsutil.rename_checked(spark, tmp, target)
    if not fsutil.exists(spark, target):
        # Protocol violation (journal without tmp or published dir) —
        # refuse to destroy anything; leave the journal for inspection.
        raise RuntimeError(
            f"fold journal {_journal_path(base, prefix)} names published dir "
            f"{target} but neither it nor {tmp} exists"
        )
    # Publish is done (either just now or before the crash) — destroying
    # the other source dirs can no longer lose their content.
    for i in meta["delete"]:
        if i != meta["publish"]:
            fsutil.delete(spark, os.path.join(base, f"{prefix}={i}"))
    # Record lineage BEFORE dropping the journal: a crash in between
    # re-runs this whole function (idempotent — the history update is a
    # pure key replacement).
    hist = _with_fold(fold_history(spark, base, prefix), meta)
    fsutil.write_text_atomic(
        spark,
        _history_path(base, prefix),
        json.dumps({"folds": {str(k): v for k, v in sorted(hist.items())}}),
    )
    fsutil.delete(spark, _journal_path(base, prefix))


def recover_fold(spark: SparkSession, base: str, prefix: str) -> str | None:
    """Detect and resolve an interrupted fold under ``base`` (MUTATING —
    compactor-side only; readers use :func:`fold_exclusions`).

    Returns ``"forward"`` (journal found → fold completed), ``"back"``
    (journal-less temp dir found → deleted, sources untouched), or
    ``None`` (nothing stranded). Called by the compactors before folding,
    so a crash mid-fold never silently removes folded batches from the
    corpus (the round-6 version deleted sources before publishing; a
    crash in between stranded the whole fold in an orphan
    ``_compacting_*`` dir nothing ever read). Safe to mutate here
    because at most one compaction runs per directory at a time.

    Cost: one small-file existence probe, plus a directory listing only
    when the probe misses — metadata scale, any Hadoop filesystem.
    """
    jtext = fsutil.read_text(spark, _journal_path(base, prefix))
    if jtext is not None:
        _finish_fold(spark, base, prefix, json.loads(jtext))
        return "forward"
    stranded = fsutil.list_subdirs(spark, base, prefix=f"_compacting_{prefix}_")
    for name in stranded:
        fsutil.delete(spark, os.path.join(base, name))
    return "back" if stranded else None


def _published_fold(spark: SparkSession, base: str, prefix: str) -> dict | None:
    """The journal of a fold interrupted AFTER its publish (temp dir
    gone), else None — the one crash state a reader must correct for."""
    jtext = fsutil.read_text(spark, _journal_path(base, prefix))
    if jtext is None:
        return None
    meta = json.loads(jtext)
    if fsutil.exists(spark, os.path.join(base, meta["tmp"])):
        return None  # unpublished: the source dirs are authoritative
    return meta


def fold_exclusions(spark: SparkSession, base: str, prefix: str) -> set[str]:
    """Directory names a reader must SKIP to stay exact when a fold was
    interrupted (non-mutating; see the module docstring's case table).

    Only the post-publish crash window needs masking: the journal lists
    the superseded source dirs whose content is already inside the
    published fold — reading them too would double-count. In every other
    state the mask is empty. Cost: one small-file probe per read, plus
    one existence check only when a journal is actually present.
    """
    meta = _published_fold(spark, base, prefix)
    if meta is None:
        return set()
    return {f"{prefix}={i}" for i in meta["delete"] if i != meta["publish"]}


def _effective_history(
    spark: SparkSession, base: str, prefix: str
) -> dict[int, list[int]]:
    """`fold_history` plus any journaled-but-unfinished fold: in the
    post-publish crash window the published dir already holds the folded
    union while the sidecar still describes the pre-fold state — apply
    the pending update in memory so snapshot reads stay exact in every
    crash state `fold_exclusions` can mask."""
    hist = fold_history(spark, base, prefix)
    meta = _published_fold(spark, base, prefix)
    return hist if meta is None else _with_fold(hist, meta)


def snapshot_dir_names(
    spark: SparkSession, base: str, prefix: str, as_of: int
) -> list[str]:
    """Time travel: the ``{prefix}=N`` directory names whose union IS the
    state after batch ``as_of`` was committed. Metadata-scale (one
    listing + two small-file probes). Raises ``ValueError`` when
    compaction has folded batch ``as_of`` together with LATER batches —
    that snapshot no longer exists on disk (the same trade Delta-style
    VACUUM makes; size ``keep_latest`` to the snapshot horizon)."""
    hist = _effective_history(spark, base, prefix)
    out = []
    for name in live_dirs(spark, base, prefix):
        i = int(name.split("=", 1)[1])
        covered = hist.get(i, [i])
        if covered[-1] <= as_of:
            out.append(name)
        elif covered[0] <= as_of:
            raise ValueError(
                f"snapshot {prefix}={as_of} was compacted away: {name} "
                f"covers {covered[0]}..{covered[-1]}; raise keep_latest "
                f"to retain the snapshot horizon"
            )
    return out


def live_dirs(
    spark: SparkSession,
    base: str,
    prefix: str = "batch",
    exclude: int | None = None,
) -> list[str]:
    """The reader rule: the sorted ``{prefix}=N`` dir names a reader
    unions — every one on disk, minus the superseded sources of a
    published but unfinished fold (:func:`fold_exclusions`), minus
    ``{prefix}={exclude}``: an at-least-once REPLAY of batch N must read
    the state its first attempt saw, not its own earlier output.
    Non-mutating."""
    skip = fold_exclusions(spark, base, prefix)
    if exclude is not None:
        skip.add(f"{prefix}={exclude}")
    return [
        n
        for n in fsutil.list_subdirs(spark, base, prefix=prefix + "=")
        if n not in skip
    ]


def _layout_groups(
    spark: SparkSession, base: str, names: list[str]
) -> list[list[str]]:
    """``names`` grouped by directory layout — the set of partition
    columns inside each dir — in first-appearance order. A dir that holds
    no data file (an empty partitioned write leaves only ``_SUCCESS``)
    joins no group when another dir has a partition column: it holds no
    row, and Spark cannot infer a schema from it alone. Metadata only:
    one glob, plus one more when flat and partitioned dirs mix."""
    if len(names) < 2:
        return [list(names)]
    cols: dict[str, set[str]] = {}
    for parent, name in fsutil.glob_under(spark, base, names, "*=*"):
        cols.setdefault(parent, set()).add(name.split("=", 1)[0])
    if not cols:
        return [list(names)]
    flat = [n for n in names if n not in cols]
    with_data = {p for p, _ in fsutil.glob_under(spark, base, flat, "[!_.]*")} if flat else set()
    groups: dict[frozenset[str], list[str]] = {}
    for n in names:
        if n in cols or n in with_data:
            groups.setdefault(frozenset(cols.get(n, ())), []).append(n)
    return list(groups.values())


def read_dirs(
    spark: SparkSession,
    base: str,
    names: list[str],
    schema: str | None = None,
    merge_schema: bool = False,
) -> DataFrame | None:
    """The named dirs under ``base`` as one frame, or None for no names:
    one ``basePath`` read per directory layout, unioned by name (a
    layout's missing partition column reads as null). The ``{prefix}``
    partition column surfaces. ``schema`` (DDL including the partition
    columns) skips inference and fixes one layout: the dirs are read in
    one read, with no layout probe. ``merge_schema`` infers the union of
    every data file's columns instead of one footer's."""
    if not names:
        return None

    def read(group: list[str]) -> DataFrame:
        reader = spark.read if schema is None else spark.read.schema(schema)
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.option("basePath", base).parquet(
            *[os.path.join(base, n) for n in group]
        )

    groups = [names] if schema else _layout_groups(spark, base, names)
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), map(read, groups)
    )


def read_live(
    spark: SparkSession,
    base: str,
    prefix: str = "batch",
    exclude: int | None = None,
    schema: str | None = None,
) -> DataFrame | None:
    """:func:`read_dirs` over :func:`live_dirs` — the read every
    maintained-state reader serves."""
    return read_dirs(spark, base, live_dirs(spark, base, prefix, exclude), schema)


def read_covering(
    spark: SparkSession, base: str, of: str, exclude: int | None = None
) -> DataFrame | None:
    """A summary sidecar (per-key counts, moments) under ``base``, read
    only when its live ``batch=N`` dirs are exactly those of ``of``, the
    directory it summarises; else None, and callers fall back to
    computing from ``of``. The compactors fold both with the same
    ``keep_latest``, so folded layouts stay covered."""
    names = live_dirs(spark, base, exclude=exclude)
    if not names or names != live_dirs(spark, of, exclude=exclude):
        return None
    return read_dirs(spark, base, names)


def fold(
    spark: SparkSession,
    base: str,
    prefix: str,
    keep_latest: int,
    reducer=None,
    partition_by: tuple[str, ...] | None = None,
) -> list[int]:
    """Fold all but the ``keep_latest`` newest ``{prefix}=N`` dirs under
    ``base`` into the oldest folded id's directory. Returns folded ids
    (empty when there is nothing to do — a missing or single-dir base
    costs metadata calls only). ``reducer`` post-processes the unioned
    frame (the drift counts' keyed sum). ``partition_by`` lays the folded
    directory out by those columns (:func:`fold_index`) — the
    journal/recovery protocol is layout-agnostic (dir-level renames), so
    crash semantics are unchanged."""
    recover_fold(spark, base, prefix)
    ids = _batch_ids(spark, base, prefix)
    folding = ids[: len(ids) - keep_latest] if keep_latest else ids
    if len(folding) < 2:
        return []
    # Merged schema: the fold rewrites its sources for good, so a column
    # only some of them carry (the ingest corpus's later ``fp``) must
    # survive. The {prefix}=N partition column must not be baked into
    # the rewritten data files, where it would collide with the readers'
    # partition-discovered column.
    names = [f"{prefix}={i}" for i in folding]
    df = read_dirs(spark, base, names, merge_schema=True).drop(prefix)
    if reducer is not None:
        df = reducer(df)
    tmp_name = f"_compacting_{prefix}_{folding[0]}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(os.path.join(base, tmp_name))
    # Journal AFTER the folded copy is fully on disk: its presence is the
    # commit point. Crash before this line → rollback (sources intact);
    # crash after → roll-forward (tmp is complete by construction).
    meta = {"prefix": prefix, "publish": folding[0], "tmp": tmp_name, "delete": folding}
    fsutil.write_text_atomic(spark, _journal_path(base, prefix), json.dumps(meta))
    _finish_fold(spark, base, prefix, meta)
    return folding


@dataclass(frozen=True)
class BucketedIndex:
    """One family's bucketed (id, key) index layout (module table)."""

    subdir: str
    key_col: str
    bucket_col: str
    width_file: str


GRAM_INDEX = BucketedIndex("grams", "gram", "__gb", "_gram_buckets.json")
TOKEN_INDEX = BucketedIndex("tokens", "token", "__tb", "_token_buckets.json")
POSTINGS_INDEX = BucketedIndex("postings", "term", "__tb", "_term_buckets.json")


def index_width(
    spark: SparkSession, owner_dir: str, index: BucketedIndex
) -> int | None:
    """The recorded bucket count of ``{owner_dir}/{index.subdir}``, or
    None when it was never folded bucketed."""
    raw = fsutil.read_text(
        spark, os.path.join(owner_dir, index.subdir, index.width_file)
    )
    return json.loads(raw)["n_buckets"] if raw else None


def bucket_of(key: str, n_buckets: int) -> int:
    """Python twin of :func:`bucket_column` (``stable_hash``: md5, 15 hex
    chars = 60 bits) — readers compute a probe's buckets driver-side, so
    the prune is a literal partition filter."""
    return int(hashlib.md5(key.encode()).hexdigest()[:15], 16) % n_buckets


def bucket_column(index: BucketedIndex, n_buckets: int) -> Column:
    """The bucket a row of ``index`` lives in at width ``n_buckets``."""
    return (stable_hash(F.col(index.key_col)) % n_buckets).cast("int")


def read_index(
    spark: SparkSession,
    owner_dir: str,
    index: BucketedIndex,
    exclude: int | None = None,
    probe_keys: list[str] | None = None,
) -> DataFrame | None:
    """The live rows of ``{owner_dir}/{index.subdir}`` with their
    ``batch`` column, whatever mix of flat and bucketed dirs it holds.
    With ``probe_keys`` (any list, an empty one too) and a recorded
    width, bucketed dirs prune to the probe keys' buckets AT THE
    DIRECTORY LEVEL (PartitionFilters); flat dirs pass the null arm and
    are scanned — the bulk is pruned, the small recent tail isn't worth
    a layout. Pruning is result-invariant for any join keyed on the
    probe keys: every row of such a key lives in a retained bucket."""
    out = read_live(spark, os.path.join(owner_dir, index.subdir), exclude=exclude)
    if out is None or index.bucket_col not in out.columns:
        return out
    n_buckets = index_width(spark, owner_dir, index)
    if n_buckets and probe_keys is not None:
        bucket = F.col(index.bucket_col)
        keep = sorted({bucket_of(k, n_buckets) for k in probe_keys})
        out = out.filter(bucket.isNull() | bucket.isin(keep))
    return out.drop(index.bucket_col)


def fold_index(
    spark: SparkSession,
    owner_dir: str,
    index: BucketedIndex,
    keep_latest: int,
    n_buckets: int | None = None,
) -> None:
    """Fold the commit-stable prefix of ``{owner_dir}/{index.subdir}``,
    PARTITIONED BY its bucket column when ``n_buckets`` is set (the width
    is then recorded) and flat otherwise. The width is STICKY:
    ``n_buckets=None`` refolds at the recorded width. Either fold sorts
    its files by key (within each bucket), so row-group stats prune a
    key lookup."""
    base = os.path.join(owner_dir, index.subdir)
    if not fsutil.list_subdirs(spark, base, prefix="batch="):
        return  # no index yet: record no width either
    if n_buckets is None:
        n_buckets = index_width(spark, owner_dir, index)
    b, k = index.bucket_col, index.key_col
    if not n_buckets:
        fold(
            spark, base, "batch", keep_latest,
            reducer=lambda df: df.drop(b).sortWithinPartitions(k),
        )
        return
    fold(
        spark, base, "batch", keep_latest,
        reducer=lambda df: df.withColumn(
            b, bucket_column(index, n_buckets)
        ).sortWithinPartitions(b, k),
        partition_by=(b,),
    )
    fsutil.write_text_atomic(
        spark,
        os.path.join(base, index.width_file),
        json.dumps({"n_buckets": int(n_buckets)}),
    )


def compact_ingest_corpus(
    spark: SparkSession, corpus_dir: str, keep_latest: int = 1
) -> list[int]:
    """Fold the commit-stable prefix of an ingest corpus (survivor dirs +
    the bands sidecar) into single directories, and repoint the Bloom
    sidecar's covered-batch list. Read semantics are unchanged:
    `read_corpus` / `read_corpus_bands` union whatever directories
    exist. Returns the folded batch ids."""
    from backend_big_data_spark.streaming.ingest_dedup import (
        load_corpus_bloom,
        save_corpus_bloom,
    )

    folded = fold(spark, corpus_dir, "batch", keep_latest)
    if not folded:
        return []
    fold(spark, os.path.join(corpus_dir, "bands"), "batch", keep_latest)
    if fsutil.read_text(spark, os.path.join(corpus_dir, "_fp_bloom.json")):
        words, _covered = load_corpus_bloom(spark, corpus_dir)
        if words is not None:
            save_corpus_bloom(
                spark,
                corpus_dir,
                words,
                set(fsutil.list_subdirs(spark, corpus_dir, prefix="batch=")),
            )
    return folded


def compact_quality_grid(
    spark: SparkSession, grid_dir: str, keep_latest: int = 1
) -> list[int]:
    """Fold the commit-stable prefix of the quality monitor's ``delta=N``
    calibration-grid log into one pre-summed grid (the reader's keyed
    merge done once and persisted). Returns the folded batch ids."""
    return fold(
        spark,
        grid_dir,
        "delta",
        keep_latest,
        reducer=lambda df: df.groupBy("source", "bucket").agg(
            F.sum("n_docs").alias("n_docs"), F.sum("toks").alias("toks")
        ),
    )


def compact_drift_counts(
    spark: SparkSession, counts_dir: str, keep_latest: int = 1
) -> list[int]:
    """Fold the commit-stable prefix of the drift monitor's ``delta=N``
    token-count log into one pre-summed delta — the reader's keyed merge
    done once and persisted. Returns the folded batch ids."""
    return fold(
        spark,
        counts_dir,
        "delta",
        keep_latest,
        reducer=lambda df: df.groupBy("tok").agg(F.sum("n").alias("n")),
    )


__all__ = [
    "GRAM_INDEX",
    "POSTINGS_INDEX",
    "TOKEN_INDEX",
    "BucketedIndex",
    "bucket_column",
    "bucket_of",
    "compact_drift_counts",
    "compact_ingest_corpus",
    "compact_quality_grid",
    "fold",
    "fold_exclusions",
    "fold_history",
    "fold_index",
    "index_width",
    "live_dirs",
    "read_covering",
    "read_dirs",
    "read_index",
    "read_live",
    "recover_fold",
    "snapshot_dir_names",
]
