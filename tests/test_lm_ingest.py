"""Incremental LM-count maintenance (`streaming/lm_ingest.py`).

The load-bearing claim: the maintained per-batch count sidecars, summed
by key, equal a full corpus scan's counts — so every count-driven model
(KN bigram/trigram) retrains incrementally to EXACTLY the full-retrain
result. Plus the family contract: stream ≡ sequential batches, fold
compaction preserves reads, journaled erasure purges ghost counts and
survives crashes (including the docs-folded/sidecar-lagging
misalignment).
"""

from __future__ import annotations

import pytest

import json

from pyspark.sql import functions as F

from backend_big_data_spark.sources import fsutil
from backend_big_data_spark.streaming.lm_ingest import (
    _lm_journal_path,
    compact_lm_corpus,
    lm_ingest_sink,
    read_lm_bigram_counts,
    read_lm_docs,
    read_lm_trigram_counts,
    recover_lm_retraction,
    retract_from_lm_corpus,
)
from backend_big_data_spark.text.kneser_ney import (
    kn_bigram_model,
    kn_bigram_model_from_counts,
    kn_trigram_model,
    kn_trigram_model_from_counts,
)

B1 = [
    (1, "san francisco san francisco san francisco"),
    (2, "new york and old york today"),
]
B2 = [
    (3, "new deal and old deal and new york"),
    (4, "a distinctive zebra quagga phrase here"),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _counts2(spark, cdir):
    df = read_lm_bigram_counts(spark, cdir)
    return sorted((r.w1, r.w2, r.c12) for r in df.collect()) if df is not None else []


def _counts3(spark, cdir):
    df = read_lm_trigram_counts(spark, cdir)
    return (
        sorted((r.w1, r.w2, r.w3, r.c123) for r in df.collect())
        if df is not None
        else []
    )


def _direct2(spark, rows):
    from backend_big_data_spark.streaming.lm_ingest import _batch_bigram_counts

    return sorted(
        (r.w1, r.w2, r.c12)
        for r in _batch_bigram_counts(_df(spark, rows)).collect()
    )


def _direct3(spark, rows):
    from backend_big_data_spark.streaming.lm_ingest import (
        _batch_trigram_counts,
    )

    return sorted(
        (r.w1, r.w2, r.w3, r.c123)
        for r in _batch_trigram_counts(_df(spark, rows)).collect()
    )


def _run_two(spark, cdir):
    sink = lm_ingest_sink(cdir)
    sink(_df(spark, B1), 0)
    sink(_df(spark, B2), 1)


class TestCounts:
    def test_maintained_equals_full_scan(self, spark, tmp_path):
        cdir = str(tmp_path / "c")
        _run_two(spark, cdir)
        assert _counts2(spark, cdir) == _direct2(spark, B1 + B2)
        assert _counts3(spark, cdir) == _direct3(spark, B1 + B2)

    def test_replay_idempotent(self, spark, tmp_path):
        cdir = str(tmp_path / "c")
        _run_two(spark, cdir)
        before = (_counts2(spark, cdir), _counts3(spark, cdir))
        lm_ingest_sink(cdir)(_df(spark, B2), 1)  # at-least-once retry
        assert (_counts2(spark, cdir), _counts3(spark, cdir)) == before

    def test_stream_matches_sequential(self, spark, tmp_path):
        from backend_big_data_spark.streaming.lm_ingest import lm_ingest_stream

        in_dir = tmp_path / "in"
        in_dir.mkdir()
        _df(spark, B1).coalesce(1).write.parquet(str(in_dir / "b1"))
        _df(spark, B2).coalesce(1).write.parquet(str(in_dir / "b2"))
        sdir = str(tmp_path / "stream")
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir / "*"))
        )
        q = lm_ingest_stream(stream, sdir, checkpoint=str(tmp_path / "ck"))
        q.awaitTermination(120)
        tdir = str(tmp_path / "twin")
        _run_two(spark, tdir)
        assert _counts2(spark, sdir) == _counts2(spark, tdir)
        assert _counts3(spark, sdir) == _counts3(spark, tdir)


class TestIncrementalModelEqualsRetrain:
    def test_kn_models_identical(self, spark, tmp_path):
        cdir = str(tmp_path / "c")
        _run_two(spark, cdir)
        full = _df(spark, B1 + B2)
        inc2 = sorted(
            tuple(r)
            for r in kn_bigram_model_from_counts(
                read_lm_bigram_counts(spark, cdir)
            ).collect()
        )
        ret2 = sorted(tuple(r) for r in kn_bigram_model(full).collect())
        assert inc2 == ret2 and inc2
        inc3 = sorted(
            tuple(r)
            for r in kn_trigram_model_from_counts(
                read_lm_trigram_counts(spark, cdir)
            ).collect()
        )
        ret3 = sorted(tuple(r) for r in kn_trigram_model(full).collect())
        assert inc3 == ret3 and inc3


class TestCompaction:
    def test_fold_preserves_counts(self, spark, tmp_path):
        cdir = str(tmp_path / "c")
        sink = lm_ingest_sink(cdir)
        sink(_df(spark, B1), 0)
        sink(_df(spark, B2), 1)
        sink(_df(spark, [(9, "tail batch words here")]), 2)
        before = (_counts2(spark, cdir), _counts3(spark, cdir))
        assert compact_lm_corpus(spark, cdir, keep_latest=1) == [0, 1]
        assert (_counts2(spark, cdir), _counts3(spark, cdir)) == before
        # sidecars aligned with the docs layout
        for side in ("bigrams", "trigrams"):
            assert set(
                fsutil.list_subdirs(spark, f"{cdir}/{side}", prefix="batch=")
            ) == {"batch=0", "batch=2"}, side

    def test_misaligned_crash_reads_stay_exact_and_heal(self, spark, tmp_path):
        from backend_big_data_spark.streaming.maintenance import fold

        cdir = str(tmp_path / "c")
        sink = lm_ingest_sink(cdir)
        sink(_df(spark, B1), 0)
        sink(_df(spark, B2), 1)
        sink(_df(spark, [(9, "tail batch words here")]), 2)
        before = (_counts2(spark, cdir), _counts3(spark, cdir))
        # crash window: docs fold, sidecar folds never run
        assert fold(spark, cdir, "batch", 1) == [0, 1]
        # count sums are associative — reads stay exact in the window
        assert (_counts2(spark, cdir), _counts3(spark, cdir)) == before
        # the next compaction heals the layout even though the docs
        # fold finds nothing to do
        assert compact_lm_corpus(spark, cdir, keep_latest=1) == []
        assert (_counts2(spark, cdir), _counts3(spark, cdir)) == before
        for side in ("bigrams", "trigrams"):
            assert set(
                fsutil.list_subdirs(spark, f"{cdir}/{side}", prefix="batch=")
            ) == {"batch=0", "batch=2"}, side


class TestErasure:
    def test_ghost_counts_purged(self, spark, tmp_path):
        cdir = str(tmp_path / "c")
        _run_two(spark, cdir)
        out = retract_from_lm_corpus(spark, cdir, [4])
        assert out["rows_removed"] == 1
        assert set(out["count_dirs_rebuilt"]) == {
            "bigrams/batch=1",
            "trigrams/batch=1",
        }
        # doc 4's distinctive bigrams are gone from the maintained counts
        w1s = {w1 for w1, _, _ in _counts2(spark, cdir)}
        assert "zebra" not in w1s and "quagga" not in w1s
        # and the counts equal a fresh scan of the surviving corpus
        survivors = [r for r in B1 + B2 if r[0] != 4]
        assert _counts2(spark, cdir) == _direct2(spark, survivors)
        assert _counts3(spark, cdir) == _direct3(spark, survivors)

    def test_unaffected_batch_not_recounted(self, spark, tmp_path):
        cdir = str(tmp_path / "c")
        _run_two(spark, cdir)
        out = retract_from_lm_corpus(spark, cdir, [1])  # batch 0 only
        assert set(out["count_dirs_rebuilt"]) == {
            "bigrams/batch=0",
            "trigrams/batch=0",
        }

    def test_crash_window_replays(self, spark, tmp_path):
        from backend_big_data_spark.streaming.retraction import retract_ids

        cdir = str(tmp_path / "c")
        _run_two(spark, cdir)
        # simulate: journal written, rows removed, crash BEFORE recount
        fsutil.write_text_atomic(
            spark,
            _lm_journal_path(cdir),
            json.dumps({"ids": [4], "dirs": ["batch=1"]}),
        )
        retract_ids(spark, cdir, [4], id_col="doc_id", drop_band_sidecar=False)
        # ghost counts still present in the crash window
        assert "zebra" in {w1 for w1, _, _ in _counts2(spark, cdir)}
        recover_lm_retraction(spark, cdir)
        survivors = [r for r in B1 + B2 if r[0] != 4]
        assert _counts2(spark, cdir) == _direct2(spark, survivors)
        assert fsutil.read_text(spark, _lm_journal_path(cdir)) is None
        recover_lm_retraction(spark, cdir)  # idempotent
        assert _counts2(spark, cdir) == _direct2(spark, survivors)

    @pytest.mark.slow
    def test_erasure_in_misaligned_crash_window(self, spark, tmp_path):
        """Docs folded {0,1}->0, sidecar folds never ran, THEN an
        erasure arrives: the orphaned count dirs must be purged after
        the covering folded docs dir is recounted — erased mass gone,
        every other document's mass preserved."""
        from backend_big_data_spark.streaming.maintenance import fold

        cdir = str(tmp_path / "c")
        sink = lm_ingest_sink(cdir)
        sink(_df(spark, B1), 0)
        sink(_df(spark, B2), 1)
        sink(_df(spark, [(9, "tail batch words here")]), 2)
        assert fold(spark, cdir, "batch", 1) == [0, 1]
        retract_from_lm_corpus(spark, cdir, [4])  # originally batch 1
        survivors = [r for r in B1 + B2 + [(9, "tail batch words here")] if r[0] != 4]
        assert _counts2(spark, cdir) == _direct2(spark, survivors)
        assert _counts3(spark, cdir) == _direct3(spark, survivors)
        # orphans gone
        for side in ("bigrams", "trigrams"):
            assert set(
                fsutil.list_subdirs(spark, f"{cdir}/{side}", prefix="batch=")
            ) == {"batch=0", "batch=2"}, side

    def test_docs_reader_excludes_erased(self, spark, tmp_path):
        cdir = str(tmp_path / "c")
        _run_two(spark, cdir)
        retract_from_lm_corpus(spark, cdir, [2, 3])
        ids = {r.doc_id for r in read_lm_docs(spark, cdir).collect()}
        assert ids == {1, 4}


class TestScoreAtArrival:
    def test_batch_scored_against_corpus_so_far(self, spark, tmp_path):
        """ppl/batch=1 must equal external-model scoring of batch 1
        against a model trained on batch 0 — incremental
        score-at-arrival ≡ score-against-full-retrain."""
        from backend_big_data_spark.text.kneser_ney import kn_doc_nll

        cdir = str(tmp_path / "c")
        sink = lm_ingest_sink(cdir, score_batches=True)
        sink(_df(spark, B1), 0)
        sink(_df(spark, B2), 1)
        got = sorted(
            (r.doc_id, r.n_bigrams, r.nll_fp)
            for r in spark.read.parquet(f"{cdir}/ppl/batch=1").collect()
        )
        want = sorted(
            (r.doc_id, r.n_bigrams, r.nll_fp)
            for r in kn_doc_nll(
                _df(spark, B2), model_df=_df(spark, B1)
            ).collect()
        )
        assert got == want and got
        # doc 4 has bigrams unseen in B1 → OOV-poisoned
        assert dict((d, n) for d, _, n in got)[4] is None
        # batch 0 scored against the empty model: every doc OOV, with
        # its true bigram count carried
        b0 = {
            r.doc_id: (r.n_bigrams, r.nll_fp)
            for r in spark.read.parquet(f"{cdir}/ppl/batch=0").collect()
        }
        assert set(b0) == {1, 2} and all(v[1] is None for v in b0.values())

    def test_replay_rewrites_identical_scores(self, spark, tmp_path):
        cdir = str(tmp_path / "c")
        sink = lm_ingest_sink(cdir, score_batches=True)
        sink(_df(spark, B1), 0)
        sink(_df(spark, B2), 1)
        before = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{cdir}/ppl/batch=1").collect()
        )
        sink(_df(spark, B2), 1)  # at-least-once retry
        after = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{cdir}/ppl/batch=1").collect()
        )
        assert before == after

    def test_erasure_purges_score_rows(self, spark, tmp_path):
        cdir = str(tmp_path / "c")
        sink = lm_ingest_sink(cdir, score_batches=True)
        sink(_df(spark, B1), 0)
        sink(_df(spark, B2), 1)
        out = retract_from_lm_corpus(spark, cdir, [4])
        assert out["ppl_rows_removed"] == 1
        ids = {
            r.doc_id
            for r in spark.read.parquet(f"{cdir}/ppl/batch=1").collect()
        }
        assert 4 not in ids and 3 in ids
