"""Maintained BM25 inverted index (`streaming/bm25_ingest.py`).

The incremental-equality family's standard contract, in retrieval space:
scoring from the maintained postings/stats sidecars equals the one-shot
full-corpus `text.bm25.bm25_topk` row-for-row; stream ≡ sequential
batches; fold compaction preserves scores; journaled erasure purges the
id-keyed postings, recounts the aggregate stats, and scoring afterwards
equals a fresh scan of the surviving corpus (no ghost postings)."""

from __future__ import annotations

import pytest

import json

from backend_big_data_spark.sources import fsutil
from backend_big_data_spark.streaming.bm25_ingest import (
    bm25_ingest_sink,
    bm25_topk_from_index,
    compact_bm25_index,
    read_bm25_postings,
    read_bm25_stats,
    recover_bm25_retraction,
    retract_from_bm25_index,
)
from backend_big_data_spark.text.bm25 import bm25_topk

DOCS = [
    (1, "hash join beats nested loop join for large tables"),
    (2, "the customer table joins orders on the customer key"),
    (3, "broadcast hash join avoids the shuffle entirely"),
    (4, "sort merge join spills when memory is tight"),
    (5, "customer churn analysis with hash aggregation"),
    (6, "a totally unrelated document about penguins"),
]
QUERY = ["join", "hash", "customer"]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _rows(df):
    return [(r.doc_id, r.score, r.rnk) for r in df.collect()]


def _ingest(spark, idir, batches):
    sink = bm25_ingest_sink(idir)
    for i, rows in enumerate(batches):
        sink(_df(spark, rows), i)
    return sink


class TestIndexEqualsFullScan:
    @pytest.mark.slow
    def test_scoring_matches_one_shot(self, spark, tmp_path):
        idir = str(tmp_path / "ix")
        _ingest(spark, idir, [DOCS[:3], DOCS[3:]])
        got = _rows(bm25_topk_from_index(spark, idir, QUERY, k=10))
        want = _rows(bm25_topk(_df(spark, DOCS), QUERY, k=10))
        assert got == want and len(got) > 0

    @pytest.mark.slow
    def test_single_vs_many_batches_identical(self, spark, tmp_path):
        one = str(tmp_path / "one")
        many = str(tmp_path / "many")
        _ingest(spark, one, [DOCS])
        _ingest(spark, many, [DOCS[:2], DOCS[2:4], DOCS[4:]])
        assert _rows(bm25_topk_from_index(spark, one, QUERY)) == _rows(
            bm25_topk_from_index(spark, many, QUERY)
        )

    def test_stats_are_additive(self, spark, tmp_path):
        idir = str(tmp_path / "ix")
        _ingest(spark, idir, [DOCS[:3], DOCS[3:]])
        row = read_bm25_stats(spark, idir).collect()[0]
        assert row["__n"] == len(DOCS)
        # postings carry every term (full index), not just query terms
        n_terms = (
            read_bm25_postings(spark, idir).select("term").distinct().count()
        )
        assert n_terms > 20


class TestCompaction:
    @pytest.mark.slow
    def test_fold_preserves_scores(self, spark, tmp_path):
        idir = str(tmp_path / "ix")
        _ingest(spark, idir, [DOCS[:2], DOCS[2:4], DOCS[4:]])
        before = _rows(bm25_topk_from_index(spark, idir, QUERY))
        assert compact_bm25_index(spark, idir, keep_latest=1) == [0, 1]
        # one folded stats row + the kept batch's row
        assert read_bm25_stats(spark, idir).collect()[0]["__n"] == len(DOCS)
        assert _rows(bm25_topk_from_index(spark, idir, QUERY)) == before


class TestErasure:
    def test_retract_then_score_equals_surviving_scan(self, spark, tmp_path):
        idir = str(tmp_path / "ix")
        _ingest(spark, idir, [DOCS[:3], DOCS[3:]])
        out = retract_from_bm25_index(spark, idir, [2, 5])
        assert out["rows_removed"] == 2
        assert out["posting_rows_removed"] > 0
        survivors = [d for d in DOCS if d[0] not in (2, 5)]
        got = _rows(bm25_topk_from_index(spark, idir, QUERY))
        assert got == _rows(bm25_topk(_df(spark, survivors), QUERY))
        # no ghost postings for the erased ids anywhere in the sidecar
        assert (
            read_bm25_postings(spark, idir)
            .filter("doc_id in (2, 5)")
            .count()
            == 0
        )
        # stats recounted, not stale
        assert read_bm25_stats(spark, idir).collect()[0]["__n"] == len(
            survivors
        )

    @pytest.mark.slow
    def test_crash_window_replays_from_journal(self, spark, tmp_path):
        """A journal written but not cleared (crash between commit point
        and purge) must roll forward on the next entry — recount and
        purge are fixed points of the current state."""
        from backend_big_data_spark.streaming.bm25_ingest import (
            _bm25_journal_path,
        )

        idir = str(tmp_path / "ix")
        _ingest(spark, idir, [DOCS[:3], DOCS[3:]])
        fsutil.write_text_atomic(
            spark,
            _bm25_journal_path(idir),
            json.dumps({"ids": [1], "dirs": ["batch=0"]}),
        )
        recover_bm25_retraction(spark, idir)
        assert fsutil.read_text(spark, _bm25_journal_path(idir)) is None
        survivors = [d for d in DOCS if d[0] != 1]
        assert _rows(bm25_topk_from_index(spark, idir, QUERY)) == _rows(
            bm25_topk(_df(spark, survivors), QUERY)
        )
        # idempotent: a second retract of the same id is a no-op
        out = retract_from_bm25_index(spark, idir, [1])
        assert out["rows_removed"] == 0

    @pytest.mark.slow
    def test_erase_after_fold_recounts_folded_stats(self, spark, tmp_path):
        idir = str(tmp_path / "ix")
        _ingest(spark, idir, [DOCS[:2], DOCS[2:4], DOCS[4:]])
        compact_bm25_index(spark, idir, keep_latest=1)
        retract_from_bm25_index(spark, idir, [1, 4])
        survivors = [d for d in DOCS if d[0] not in (1, 4)]
        assert _rows(bm25_topk_from_index(spark, idir, QUERY)) == _rows(
            bm25_topk(_df(spark, survivors), QUERY)
        )
        assert read_bm25_stats(spark, idir).collect()[0]["__n"] == len(
            survivors
        )


class TestStream:
    def test_stream_matches_sequential_batches(self, spark, tmp_path):
        import shutil

        from backend_big_data_spark.streaming.bm25_ingest import (
            bm25_ingest_stream,
        )

        src = str(tmp_path / "src")
        _df(spark, DOCS).repartition(2).write.parquet(src)
        sdir = str(tmp_path / "stream_ix")
        q = bm25_ingest_stream(
            spark.readStream.schema("doc_id long, text string").parquet(src),
            sdir,
            str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)
        bdir = str(tmp_path / "batch_ix")
        _ingest(spark, bdir, [DOCS])
        assert _rows(bm25_topk_from_index(spark, sdir, QUERY)) == _rows(
            bm25_topk_from_index(spark, bdir, QUERY)
        )
        shutil.rmtree(str(tmp_path / "ckpt"), ignore_errors=True)


class TestIndexPlanShape:
    def test_lookup_pushes_term_filter_into_postings_scan(
        self, spark, tmp_path
    ):
        """The index LOOKUP is the query-term filter reaching the
        postings parquet scan as a pushed predicate — with the sidecar
        written term-sorted, row-group stats prune the scan to the index
        fraction that matters (the at-rest analog of an index seek)."""
        import contextlib
        import io

        idir = str(tmp_path / "ix")
        _ingest(spark, idir, [DOCS[:3], DOCS[3:]])
        df = bm25_topk_from_index(spark, idir, QUERY, k=10)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        scan_lines = [
            l for l in plan.splitlines() if "PushedFilters" in l
        ]
        assert any("In(term" in l for l in scan_lines), scan_lines
        assert "CartesianProduct" not in plan


class TestTermBucketedFold:
    @pytest.mark.slow
    def test_bucketed_fold_preserves_scores(self, spark, tmp_path):
        """Folding the postings into a term-bucketed layout changes only
        the at-rest directory structure — scoring through it equals the
        flat index and the one-shot scan."""
        idir = str(tmp_path / "ix")
        _ingest(spark, idir, [DOCS[:3], DOCS[3:]])
        want = _rows(bm25_topk_from_index(spark, idir, QUERY, k=10))
        compact_bm25_index(spark, idir, keep_latest=0, term_buckets=4)
        got = _rows(bm25_topk_from_index(spark, idir, QUERY, k=10))
        assert got == want == _rows(bm25_topk(_df(spark, DOCS), QUERY, k=10))

    def test_bucket_filter_prunes_partitions(self, spark, tmp_path):
        """With the bucketed layout, the query's bucket set must appear
        as a PARTITION filter on the postings scan — a directory-level
        prune, not just row-group stats."""
        import contextlib
        import io

        idir = str(tmp_path / "ix")
        _ingest(spark, idir, [DOCS[:3], DOCS[3:]])
        compact_bm25_index(spark, idir, keep_latest=0, term_buckets=4)
        df = bm25_topk_from_index(spark, idir, QUERY, k=10)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        part_lines = [
            l for l in plan.splitlines() if "PartitionFilters" in l
        ]
        assert any("__tb" in l for l in part_lines), part_lines

    @pytest.mark.slow
    def test_mixed_layout_reads_and_next_fold_rebuckets(self, spark, tmp_path):
        """Batches arriving AFTER a bucketed fold stay flat; the reader
        unions the mixed layout (flat tail scanned, bulk pruned) and the
        next compaction re-buckets everything at the sticky width."""
        idir = str(tmp_path / "ix")
        # two batches: a fold needs two dirs to build the bucketed bulk
        _ingest(spark, idir, [DOCS[:2], DOCS[2:4]])
        compact_bm25_index(spark, idir, keep_latest=0, term_buckets=4)
        bm25_ingest_sink(idir)(_df(spark, DOCS[4:]), 2)  # flat tail
        postings = f"{idir}/postings"
        dirs = fsutil.list_subdirs(spark, postings, prefix="batch=")
        layout = {
            d: bool(fsutil.list_subdirs(spark, f"{postings}/{d}", prefix="__tb="))
            for d in dirs
        }
        assert layout == {"batch=0": True, "batch=2": False}, layout
        got = _rows(bm25_topk_from_index(spark, idir, QUERY, k=10))
        assert got == _rows(bm25_topk(_df(spark, DOCS), QUERY, k=10))
        compact_bm25_index(spark, idir, keep_latest=0)  # sticky width
        meta = json.loads(
            fsutil.read_text(spark, f"{idir}/postings/_term_buckets.json")
        )
        assert meta == {"n_buckets": 4}
        got2 = _rows(bm25_topk_from_index(spark, idir, QUERY, k=10))
        assert got2 == got

    @pytest.mark.slow
    def test_retraction_on_bucketed_index(self, spark, tmp_path):
        """Erasure through the bucketed layout: purge preserves the
        __tb partitioning (and folds any flat tail first), and scoring
        afterwards equals a fresh scan of the surviving corpus."""
        idir = str(tmp_path / "ix")
        _ingest(spark, idir, [DOCS[:3]])
        compact_bm25_index(spark, idir, keep_latest=0, term_buckets=4)
        bm25_ingest_sink(idir)(_df(spark, DOCS[3:]), 1)  # flat tail
        out = retract_from_bm25_index(spark, idir, [2, 5])
        assert out["rows_removed"] >= 2
        surviving = [d for d in DOCS if d[0] not in (2, 5)]
        got = _rows(bm25_topk_from_index(spark, idir, QUERY, k=10))
        assert got == _rows(bm25_topk(_df(spark, surviving), QUERY, k=10))
        sub = fsutil.list_subdirs(spark, f"{idir}/postings/batch=0", prefix="__tb=")
        assert sub, "purge must preserve the bucketed layout"
