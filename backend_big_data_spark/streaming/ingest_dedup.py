"""Continuously-deduplicating ingest sink — ``foreachBatch`` around the
batch incremental-dedup operator (text/dedup.py ``incremental_dedup_kept``).

A recurring crawl/ingest never re-deduplicates its corpus from scratch:
each arriving micro-batch is probed against the at-rest kept corpus (exact
fingerprints + LSH-verified near-dups) and only the survivors are appended.
This module wires that batch operator into Structured Streaming, which
contributes exactly the two things batch composition cannot:

- ``foreachBatch``'s (checkpointed) batch-id gating makes the
  append-if-survives step effectively-once across restarts — a replayed
  micro-batch re-runs the SAME dedup decision against the SAME corpus
  state and its admitted docs overwrite their own batch directory;
- ordering: batches apply serially, so batch N+1's probe sees batch N's
  admissions (the corpus grows between batches), matching the sequential
  semantics the batch tests assert.

Scale notes: the per-batch cost is (batch shingling) + (semi-joins against
the corpus fingerprint/shingle tables). Writing each batch's survivors to
their OWN ``batch=N`` subdirectory keeps the append O(batch) — no
read-modify-write of the corpus — and the directory layout doubles as the
ingest's audit log. At 100 TB the corpus-side fingerprint and shingle
tables would be bucketed by their join keys so every probe is co-located;
the composition here is unchanged.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_big_data_spark.sources import fsutil
from backend_big_data_spark.text.dedup import (
    band_table,
    build_shingle_bloom,
    doc_shingles,
    incremental_dedup_kept,
    lsh_verified_pairs,
    merge_blooms,
    minhash_signatures,
    release_dedup_caches,
)

#: Bloom shape for the corpus-fingerprint bitmap (16 KB of words — the
#: metadata-commit scale `merge_blooms` documents).
BLOOM_BITS = 1 << 17
BLOOM_HASHES = 3

#: MinHash/LSH shape for the maintained band index (md5 family so every
#: decision is engine-reproducible, like the batch dedup oracles).
INDEX_NUM_HASHES = 16
INDEX_BANDS = 4


def _bloom_path(corpus_dir: str) -> str:
    return os.path.join(corpus_dir, "_fp_bloom.json")


def _batch_fp_bloom(df: DataFrame, text_col: str = "text") -> list[int]:
    """Bloom bitmap over one frame's content fingerprints."""
    return build_shingle_bloom(
        df.select(F.md5(text_col).alias("fp")),
        shingle_col="fp",
        num_bits=BLOOM_BITS,
        num_hashes=BLOOM_HASHES,
    )


def load_corpus_bloom(
    spark: SparkSession, corpus_dir: str
) -> tuple[list[int] | None, set[str]]:
    """The maintained corpus-fingerprint bitmap, SELF-HEALING: if the
    sidecar is missing bits for any admitted ``batch=N`` directory (crash
    between the batch write and the sidecar commit), those batches'
    fingerprints are re-folded in before use — the no-false-negative
    invariant the pre-filter depends on is restored, never assumed.
    Returns (words or None when no corpus yet, covered batch-dir names)."""
    batch_dirs = set(fsutil.list_subdirs(spark, corpus_dir, prefix="batch="))
    if not batch_dirs:
        return None, set()
    words: list[int] | None = None
    covered: set[str] = set()
    raw = fsutil.read_text(spark, _bloom_path(corpus_dir))
    if raw is not None:
        state = json.loads(raw)
        if (
            state.get("num_bits") == BLOOM_BITS
            and state.get("num_hashes") == BLOOM_HASHES
        ):
            words = state["words"]
            covered = set(state["batches"]) & batch_dirs
            if set(state["batches"]) - batch_dirs:
                # sidecar covers batches no longer on disk (manual prune):
                # stale bits would only cause false positives, which the
                # exact semi-join absorbs — safe to keep, but rebuild to
                # stay tight
                words, covered = None, set()
    for name in sorted(batch_dirs - covered):
        part = spark.read.parquet(os.path.join(corpus_dir, name))
        b = _batch_fp_bloom(part)
        words = b if words is None else merge_blooms(words, b)
        covered.add(name)
    return words, covered


def save_corpus_bloom(
    spark: SparkSession, corpus_dir: str, words: list[int], batches: set[str]
) -> None:
    """Atomically commit the maintained bitmap (write + rename)."""
    fsutil.write_text_atomic(
        spark,
        _bloom_path(corpus_dir),
        json.dumps(
            {
                "num_bits": BLOOM_BITS,
                "num_hashes": BLOOM_HASHES,
                "batches": sorted(batches),
                "words": words,
            }
        ),
    )


def read_corpus(
    spark: SparkSession, corpus_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """The kept corpus accumulated so far, or None before the first batch.

    ``exclude_batch``: drop that batch id's own directory from the read —
    an at-least-once REPLAY of batch N must probe the same corpus state it
    saw the first time, not its own earlier ``batch=N`` output (otherwise
    every prior survivor matches itself and the replay admits ~nothing)."""
    from backend_big_data_spark.streaming.maintenance import read_live

    return read_live(spark, corpus_dir, exclude=exclude_batch)


def read_corpus_snapshot(
    spark: SparkSession, corpus_dir: str, as_of_batch: int
) -> DataFrame | None:
    """Time travel: the kept corpus exactly as it stood after batch
    ``as_of_batch`` was committed, or None when no batch ≤ ``as_of_batch``
    exists. Because admission is append-only (a ``batch=N`` dir is never
    edited after commit), a snapshot is just the union of directories
    whose coverage ends at or before ``as_of_batch`` — metadata-scale
    selection, no data rewritten. Raises ``ValueError`` when compaction
    folded that snapshot away (see `maintenance.snapshot_dir_names`).
    The reproducibility contract for training runs: "the train set as of
    snapshot N" is re-materializable bit-for-bit until a fold crosses N."""
    from backend_big_data_spark.streaming.maintenance import (
        read_dirs,
        snapshot_dir_names,
    )

    return read_dirs(
        spark,
        corpus_dir,
        snapshot_dir_names(spark, corpus_dir, "batch", as_of_batch),
    )


def read_corpus_bands(
    spark: SparkSession, corpus_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """The maintained LSH band index over the kept corpus —
    ``(doc_id, band, band_key)`` rows written at admission time under
    ``{corpus_dir}/bands/batch=N``. None when no index exists (corpora
    written before the index shipped fall back to the union path).
    ``exclude_batch`` mirrors `read_corpus`'s replay semantics."""
    from backend_big_data_spark.streaming.maintenance import read_live

    return read_live(
        spark, os.path.join(corpus_dir, "bands"), exclude=exclude_batch
    )


def batch_band_rows(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, band, band_key) for one frame — what the sink persists for
    each admitted batch, and what the probe computes for an arriving
    batch. Deterministic in the text alone (md5 family)."""
    return band_table(
        minhash_signatures(
            doc_shingles(df, text_col=text_col, id_col=id_col, persist=False),
            num_hashes=INDEX_NUM_HASHES,
            hash_fn="md5",
            id_col=id_col,
        ),
        num_hashes=INDEX_NUM_HASHES,
        bands=INDEX_BANDS,
        hash_fn="md5",
        id_col=id_col,
    )


def dedup_batch_against_corpus_indexed(
    batch: DataFrame,
    corpus: DataFrame,
    corpus_bands: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_fp_bloom: list[int] | None = None,
) -> DataFrame:
    """Survivors of one arriving batch vs the at-rest corpus, probing the
    MAINTAINED band index instead of re-shingling the corpus.

    Identical survivor set to `dedup_batch_against_corpus` (the
    equivalence test asserts it): a batch×corpus candidate pair surfaces
    iff the two docs share an LSH band key, and band keys are a
    deterministic function of the text — the index just memoizes the
    corpus side. Per-batch corpus cost drops from O(corpus shingling +
    band self-join) to a map-side broadcast semi-join over the band
    sidecar plus a batch-bounded text fetch:

    1. batch band rows computed fresh (batch-scale);
    2. corpus docs sharing any batch band key: ``corpus_bands ⋉
       broadcast(batch keys)`` — corpus side never shuffles;
    3. ONLY those candidate docs' text is fetched (broadcast semi-join
       on the id — batch-bounded set) and unioned with the batch for the
       exact verify + decision kernel, exactly as the union path does;
    4. the exact-dup probe keeps using the FULL corpus fingerprints
       (`incremental_dedup_kept`'s broadcast ``corpus_fps``) — exact
       twins need no band match to be caught.
    """
    batch = batch.select(id_col, text_col)
    bbands = batch_band_rows(batch, id_col=id_col, text_col=text_col)
    hit_ids = (
        corpus_bands.join(
            F.broadcast(bbands.select("band", "band_key").distinct()),
            on=["band", "band_key"],
            how="semi",
        )
        .select(id_col)
        .distinct()
    )
    cand_corpus = corpus.select(id_col, text_col).join(
        F.broadcast(hit_ids), on=id_col, how="semi"
    )
    tagged = batch.withColumn("__new", F.lit(True)).unionByName(
        cand_corpus.withColumn("__new", F.lit(False))
    )
    pairs = lsh_verified_pairs(
        doc_shingles(tagged, text_col=text_col, id_col=id_col),
        threshold=threshold,
        hash_fn="md5",
        id_col=id_col,
    )
    corpus_fps = (
        corpus.select(F.coalesce(F.col("fp"), F.md5(text_col)).alias("__fp"))
        if "fp" in corpus.columns
        else corpus.select(F.md5(text_col).alias("__fp"))
    )
    kept_ids = incremental_dedup_kept(
        tagged,
        is_new=F.col("__new"),
        verified_pairs=pairs,
        id_col=id_col,
        text_col=text_col,
        within_batch_near=True,
        corpus_fp_bloom=corpus_fp_bloom,
        bloom_bits=BLOOM_BITS,
        bloom_hashes=BLOOM_HASHES,
        corpus_fps=corpus_fps,
    )
    return batch.join(kept_ids, on=id_col, how="semi")


def dedup_batch_against_corpus(
    batch: DataFrame,
    corpus: DataFrame | None,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_fp_bloom: list[int] | None = None,
) -> DataFrame:
    """Survivors of one arriving batch vs the at-rest corpus (batch op).

    First batch (no corpus yet): the batch self-deduplicates — exact
    within-batch plus within-batch near components, via the same operator
    with an empty corpus side.

    ``corpus_fp_bloom``: the maintained corpus-fingerprint bitmap
    (`load_corpus_bloom`) — pre-drops batch rows that definitely have no
    exact twin in the corpus before the fingerprint semi-join.
    Result-invariant (no false negatives; false positives re-checked).

    When the corpus carries an ``fp`` column (persisted at admission time
    by `ingest_dedup_sink` — 16 bytes/row), the exact-dup probe scans
    THAT column instead of re-hashing the corpus text, and runs as a
    broadcast semi-join with no corpus-side Exchange (see
    `incremental_dedup_kept`'s ``corpus_fps``). Old corpora without the
    column fall back to deriving fingerprints from text.
    """
    batch = batch.select(id_col, text_col)
    corpus_fps = None
    if corpus is None:
        tagged = batch.withColumn("__new", F.lit(True))
    else:
        tagged = batch.withColumn("__new", F.lit(True)).unionByName(
            corpus.select(id_col, text_col).withColumn("__new", F.lit(False))
        )
        if "fp" in corpus.columns:
            # coalesce covers mixed directories written before the fp
            # column existed (schema-merged reads surface NULLs there)
            corpus_fps = corpus.select(
                F.coalesce(F.col("fp"), F.md5(text_col)).alias("__fp")
            )
    pairs = lsh_verified_pairs(
        doc_shingles(tagged, text_col=text_col, id_col=id_col),
        threshold=threshold,
        hash_fn="md5",
        id_col=id_col,
    )
    kept_ids = incremental_dedup_kept(
        tagged,
        is_new=F.col("__new"),
        verified_pairs=pairs,
        id_col=id_col,
        text_col=text_col,
        within_batch_near=True,
        corpus_fp_bloom=corpus_fp_bloom if corpus is not None else None,
        bloom_bits=BLOOM_BITS,
        bloom_hashes=BLOOM_HASHES,
        corpus_fps=corpus_fps,
    )
    # the dedup operator emits surviving IDs only — rehydrate the text from
    # the batch (semi-join on the id, batch-sized, never corpus-sized)
    return batch.join(kept_ids, on=id_col, how="semi")


def ensure_band_index(
    spark: SparkSession, corpus_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """The maintained band index covering every at-rest batch directory,
    SELF-HEALING like `load_corpus_bloom`: any corpus ``batch=N`` without
    a matching ``bands/batch=N`` (a corpus written before the index
    shipped, or pruned by hand) gets its band rows recomputed from its
    own parquet and committed before use — the index is complete or it is
    rebuilt, never silently partial (a partial index would MISS near-dup
    candidates, which no downstream recheck could restore)."""
    batch_dirs = [
        n
        for n in fsutil.list_subdirs(spark, corpus_dir, prefix="batch=")
        if n != f"batch={exclude_batch}"
    ]
    if not batch_dirs:
        return None
    bands_dir = os.path.join(corpus_dir, "bands")
    have = set(fsutil.list_subdirs(spark, bands_dir, prefix="batch="))
    for name in batch_dirs:
        if name not in have:
            part = spark.read.parquet(os.path.join(corpus_dir, name))
            batch_band_rows(part).write.mode("overwrite").parquet(
                os.path.join(bands_dir, name)
            )
    return read_corpus_bands(spark, corpus_dir, exclude_batch=exclude_batch)


def ingest_dedup_sink(
    corpus_dir: str,
    threshold: float = 0.5,
    use_bloom: bool = True,
    use_band_index: bool = True,
    auto_compact_every: int | None = None,
):
    """``foreachBatch`` function maintaining a deduped corpus at
    ``corpus_dir`` (one ``batch=N`` subdirectory per micro-batch).

    With ``use_bloom`` (default) the sink also maintains the
    corpus-fingerprint Bloom sidecar: probe it before the vs-corpus
    fingerprint semi-join, then fold the admitted batch's fingerprints in
    via `merge_blooms` — the O(bitmap) metadata commit that keeps the
    at-rest index current without ever rescanning the corpus. Replayed
    batch ids re-OR the same bits (idempotent), and `load_corpus_bloom`
    self-heals a sidecar that missed a crashed batch's commit.

    With ``use_band_index`` (default) the sink maintains the LSH band
    sidecar (``bands/batch=N``) and probes it instead of re-shingling
    the corpus (`dedup_batch_against_corpus_indexed`) — identical
    survivor sets, per-batch corpus cost reduced to two map-side
    broadcast semi-joins (band keys, then candidate ids).

    ``auto_compact_every``: once more than this many ``batch=N``
    directories exist, fold the commit-stable prefix (survivors + band
    sidecar, Bloom covered-set repointed) via
    `streaming.maintenance.compact_ingest_corpus` — bounding per-probe
    file-listing/footer cost at O(auto_compact_every) directories. The
    newest directory is never folded, so the current batch can always
    replay."""

    def apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # exclude batch N's own earlier output on replay: the retry must
        # see the corpus as it was, or prior survivors self-match at fp
        # equality and the rewritten directory comes back nearly empty
        corpus = read_corpus(spark, corpus_dir, exclude_batch=batch_id)
        bands = (
            ensure_band_index(spark, corpus_dir, exclude_batch=batch_id)
            if use_band_index and corpus is not None
            else None
        )
        bloom_words, bloom_batches = (
            load_corpus_bloom(spark, corpus_dir) if use_bloom else (None, set())
        )
        if corpus is not None and bands is not None:
            kept = dedup_batch_against_corpus_indexed(
                batch, corpus, bands,
                threshold=threshold, corpus_fp_bloom=bloom_words,
            )
        else:
            kept = dedup_batch_against_corpus(
                batch, corpus, threshold=threshold, corpus_fp_bloom=bloom_words
            )
        # overwrite, not append: a replayed batch id rewrites its own
        # directory with the identical survivor set (idempotent).
        # Persist the content fingerprint at admission time: later batches
        # probe a 16-byte column instead of re-hashing the corpus text.
        bdir = f"batch={batch_id}"
        kept.withColumn("fp", F.md5("text")).write.mode("overwrite").parquet(
            f"{corpus_dir}/{bdir}"
        )
        admitted = spark.read.parquet(f"{corpus_dir}/{bdir}")
        if use_band_index:
            batch_band_rows(admitted).write.mode("overwrite").parquet(
                os.path.join(corpus_dir, "bands", bdir)
            )
        if use_bloom:
            b = _batch_fp_bloom(admitted)
            merged = b if bloom_words is None else merge_blooms(bloom_words, b)
            save_corpus_bloom(spark, corpus_dir, merged, bloom_batches | {bdir})
        release_dedup_caches()
        if auto_compact_every is not None:
            n_dirs = len(
                fsutil.list_subdirs(spark, corpus_dir, prefix="batch=")
            )
            if n_dirs > auto_compact_every:
                from backend_big_data_spark.streaming.maintenance import (
                    compact_ingest_corpus,
                )

                compact_ingest_corpus(spark, corpus_dir, keep_latest=1)

    return apply


def dedup_ingest_stream(
    docs_stream: DataFrame,
    corpus_dir: str,
    checkpoint: str,
    threshold: float = 0.5,
    use_bloom: bool = True,
):
    """Attach the deduplicating sink to a document stream. Returns the
    started StreamingQuery (caller awaits/stops)."""
    return (
        docs_stream.writeStream.foreachBatch(
            ingest_dedup_sink(corpus_dir, threshold, use_bloom=use_bloom)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


__all__ = [
    "batch_band_rows",
    "dedup_batch_against_corpus",
    "dedup_batch_against_corpus_indexed",
    "dedup_ingest_stream",
    "ensure_band_index",
    "ingest_dedup_sink",
    "load_corpus_bloom",
    "read_corpus",
    "read_corpus_bands",
    "save_corpus_bloom",
]
