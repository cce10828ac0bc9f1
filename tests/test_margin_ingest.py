"""Streaming embedding entity resolution (`streaming/margin_ingest.py`).

The family's standard contract, in embedding space: link/admit semantics
with planted cosine geometry (exact-duplicate admission rule, near-dup
linking through the MAINTAINED bucket sidecar, novel-direction
admission), stream ≡ sequential batches, replay idempotency, fold
compaction leaving reads and later links unchanged, and journaled
erasure with crash-window replay (bucket sidecar rewritten, links
purged, no ghost links on reingest)."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from backend_big_data_spark.sources import fsutil
from backend_big_data_spark.streaming.margin_ingest import (
    compact_margin_master,
    margin_ingest_sink,
    read_margin_master,
    read_master_buckets,
)

DIM = 8


def _unit(i):
    v = [0.0] * DIM
    v[i] = 1.0
    return v


def _near(i, seed):
    rng = np.random.default_rng(seed)
    v = np.array(_unit(i)) + 1e-4 * rng.standard_normal(DIM)
    return [float(x) for x in v]


V0, V1, V2 = _unit(0), _unit(1), _unit(2)
B1 = [(1, V0), (2, V1), (3, V1)]          # 3 = exact dup of 2 -> min id 2
B2 = [(10, _near(0, 7)), (11, V2), (12, V0)]  # 10,12 near/exact of master 1

SINK_KW = dict(
    dim=DIM, knn_k=2, threshold=0.98, min_sim=0.8, num_bits=4, num_tables=4
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, embedding array<float>")


def _master_ids(spark, mdir):
    return sorted(r.id for r in read_margin_master(spark, mdir).collect())


def _links(spark, mdir, batch_id):
    path = f"{mdir}/links/batch={batch_id}"
    if not fsutil.exists(spark, path):
        return []  # a fully-purged link dir publishes as a DELETE
    return sorted(
        (r.dirty_id, r.master_id, r.rank)
        for r in spark.read.parquet(path).collect()
    )


def _run_two_batches(spark, mdir):
    sink = margin_ingest_sink(mdir, **SINK_KW)
    sink(_df(spark, B1), 0)
    sink(_df(spark, B2), 1)
    return sink


class TestLinkAdmit:
    def test_link_admit_semantics(self, spark, tmp_path):
        mdir = str(tmp_path / "m")
        _run_two_batches(spark, mdir)
        # batch 0: empty master -> all admit; exact-dup vector -> min id
        assert _master_ids(spark, mdir) == [1, 2, 11]
        # batch 1: 10 (near-dup) and 12 (exact) link to master 1 through
        # the stored bucket sidecar; 11 (novel direction) admits
        assert _links(spark, mdir, 1) == [(10, 1, 1), (12, 1, 1)]
        links = spark.read.parquet(f"{mdir}/links/batch=1").collect()
        by_id = {r.dirty_id: r for r in links}
        assert by_id[12].cosine_sim == 1.0
        assert by_id[10].cosine_sim > 0.999

    def test_min_sim_floor_blocks_incidental_collisions(self, spark, tmp_path):
        """An orthogonal vector that happens to share an LSH bucket with a
        master is a SINGLETON-neighborhood candidate (margin ≡ 1 at any
        cosine) — without the floor it would link; with it, it admits."""
        mdir = str(tmp_path / "m")
        kw = dict(SINK_KW, num_bits=1, num_tables=1)  # coarse: collisions
        sink = margin_ingest_sink(mdir, **kw)
        sink(_df(spark, [(1, V0)]), 0)
        sink(_df(spark, [(20, V1)]), 1)  # cos == 0 to the only master
        assert _links(spark, mdir, 1) == []
        assert sorted(_master_ids(spark, mdir)) == [1, 20]

    @pytest.mark.slow
    def test_replay_idempotent(self, spark, tmp_path):
        mdir = str(tmp_path / "m")
        _run_two_batches(spark, mdir)
        before = (_master_ids(spark, mdir), _links(spark, mdir, 1))
        margin_ingest_sink(mdir, **SINK_KW)(_df(spark, B2), 1)  # retry
        assert (_master_ids(spark, mdir), _links(spark, mdir, 1)) == before

    @pytest.mark.slow
    def test_stream_matches_sequential_batches(self, spark, tmp_path):
        from backend_big_data_spark.streaming.margin_ingest import (
            margin_ingest_stream,
        )

        in_dir = tmp_path / "in"
        in_dir.mkdir()
        _df(spark, B1).coalesce(1).write.parquet(str(in_dir / "b1"))
        _df(spark, B2).coalesce(1).write.parquet(str(in_dir / "b2"))
        sdir = str(tmp_path / "stream_master")
        stream = (
            spark.readStream.schema("id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir / "*"))
        )
        q = margin_ingest_stream(
            stream,
            sdir,
            checkpoint=str(tmp_path / "ck"),
            dim=DIM,
            knn_k=2,
            threshold=0.98,
            link_k=1,
        )
        # the stream ctor doesn't expose every sink knob; rebuild the twin
        # with the SAME effective parameters (defaults + overrides)
        q.awaitTermination(120)

        tdir = str(tmp_path / "twin_master")
        sink = margin_ingest_sink(
            tdir, dim=DIM, knn_k=2, threshold=0.98, link_k=1
        )
        sink(_df(spark, B1), 0)
        sink(_df(spark, B2), 1)
        assert _master_ids(spark, sdir) == _master_ids(spark, tdir)
        assert _links(spark, sdir, 1) == _links(spark, tdir, 1)

    def test_buckets_sidecar_matches_recomputation(self, spark, tmp_path):
        from backend_big_data_spark.streaming.margin_ingest import bucket_index

        mdir = str(tmp_path / "m")
        _run_two_batches(spark, mdir)
        stored = {
            (r.id, r.bucket)
            for r in read_master_buckets(spark, mdir).collect()
        }
        fresh = {
            (r.id, r.bucket)
            for r in bucket_index(
                read_margin_master(spark, mdir),
                dim=DIM,
                num_bits=4,
                num_tables=4,
            ).collect()
        }
        assert stored == fresh

    @pytest.mark.slow
    def test_compaction_preserves_results(self, spark, tmp_path):
        mdir = str(tmp_path / "m")
        sink = margin_ingest_sink(mdir, **SINK_KW)
        sink(_df(spark, B1), 0)
        sink(_df(spark, [(20, _unit(3))]), 1)
        sink(_df(spark, [(21, _unit(4))]), 2)
        before_master = _master_ids(spark, mdir)
        before_buckets = {
            (r.id, r.bucket)
            for r in read_master_buckets(spark, mdir).collect()
        }
        assert compact_margin_master(spark, mdir, keep_latest=1) == [0, 1]
        assert _master_ids(spark, mdir) == before_master
        assert {
            (r.id, r.bucket)
            for r in read_master_buckets(spark, mdir).collect()
        } == before_buckets
        sink(_df(spark, B2), 3)
        assert _links(spark, mdir, 3) == [(10, 1, 1), (12, 1, 1)]


class TestErasure:
    @pytest.mark.slow
    def test_erase_then_reingest_and_sidecars_rewritten(self, spark, tmp_path):
        from backend_big_data_spark.streaming.retraction import (
            retract_from_margin_master,
        )

        mdir = str(tmp_path / "m")
        _run_two_batches(spark, mdir)
        out = retract_from_margin_master(
            spark, mdir, [1], dim=DIM, num_bits=4, num_tables=4
        )
        assert out["rows_removed"] == 1
        assert out["bucket_dirs_rewritten"] == ["batch=0"]
        assert {r.id for r in read_master_buckets(spark, mdir).collect()} == {
            2,
            11,
        }
        # links naming master 1 purged
        assert _links(spark, mdir, 1) == []
        # an exact twin of the erased vector produces NO ghost link to the
        # erased id — with masters {V1, V2} it links nothing and ADMITS
        margin_ingest_sink(mdir, **SINK_KW)(_df(spark, [(30, V0)]), 2)
        assert _links(spark, mdir, 2) == []
        assert 30 in _master_ids(spark, mdir)

    def test_crash_window_replays_purge(self, spark, tmp_path):
        from backend_big_data_spark.streaming.retraction import (
            _margin_journal_path,
            recover_margin_retraction,
            retract_ids,
        )

        mdir = str(tmp_path / "m")
        margin_ingest_sink(mdir, **SINK_KW)(_df(spark, B1), 0)
        fsutil.write_text_atomic(
            spark,
            _margin_journal_path(mdir),
            json.dumps({"ids": [1], "dim": DIM, "num_bits": 4, "num_tables": 4}),
        )
        retract_ids(spark, mdir, [1], id_col="id", drop_band_sidecar=False)
        # crash simulated: master row gone, bucket sidecar still ghosted
        assert 1 in {r.id for r in read_master_buckets(spark, mdir).collect()}
        recover_margin_retraction(spark, mdir)
        assert {r.id for r in read_master_buckets(spark, mdir).collect()} == {2}
        assert fsutil.read_text(spark, _margin_journal_path(mdir)) is None
        # idempotent
        recover_margin_retraction(spark, mdir)
        assert {r.id for r in read_master_buckets(spark, mdir).collect()} == {2}

    @pytest.mark.slow
    def test_orphan_bucket_dir_rewritten_in_place(self, spark, tmp_path):
        """Compaction crash window: the master dir folded away but the
        bucket sidecar fold never ran. A retraction must rewrite the
        orphan bucket dir in place (other entities' rows survive), not
        delete it."""
        import shutil

        from backend_big_data_spark.streaming.maintenance import fold
        from backend_big_data_spark.streaming.retraction import (
            retract_from_margin_master,
        )

        mdir = str(tmp_path / "m")
        sink = margin_ingest_sink(mdir, **SINK_KW)
        sink(_df(spark, B1), 0)
        sink(_df(spark, [(20, _unit(3)), (22, _unit(5))]), 1)
        sink(_df(spark, [(21, _unit(4))]), 2)
        # fold ONLY the master (simulated sidecar-fold crash): batches
        # {0,1} fold into batch=0, so buckets/batch=1 is now an orphan
        # holding ids 20 and 22
        assert fold(spark, mdir, "batch", 1) == [0, 1]
        assert not fsutil.exists(spark, f"{mdir}/batch=1")
        assert fsutil.exists(spark, f"{mdir}/buckets/batch=1")
        out = retract_from_margin_master(
            spark, mdir, [20], dim=DIM, num_bits=4, num_tables=4
        )
        assert out["rows_removed"] == 1
        assert "batch=1" in out["bucket_dirs_rewritten"]
        # the other entity's bucket rows in the orphan dir survive
        assert {r.id for r in read_master_buckets(spark, mdir).collect()} == {
            1,
            2,
            22,
            21,
        }


class TestMomentSidecars:
    """Maintained covariance moments: additive sufficient statistics
    written at admission; covariance-from-sidecars equals the full scan;
    erasure recounts (or drops to fallback); compaction keyed-sums."""

    def _cov_rows(self, df):
        return {(r.i, r.j, r.cov) for r in df.collect()}

    def test_moments_match_full_scan_and_cov_equality(self, spark, tmp_path):
        from backend_big_data_spark.similarity.pca import (
            covariance_from_moments,
            embedding_covariance,
            embedding_moments,
        )
        from backend_big_data_spark.streaming.margin_ingest import (
            read_master_moments,
        )

        mdir = str(tmp_path / "m")
        _run_two_batches(spark, mdir)
        master = read_margin_master(spark, mdir)
        stored = {
            (r.i, r.j, round(r.v, 9))
            for r in read_master_moments(spark, mdir)
            .groupBy("i", "j")
            .agg(F.sum("v").alias("v"))
            .collect()
        }
        fresh = {
            (r.i, r.j, round(r.v, 9))
            for r in embedding_moments(master, dim=DIM).collect()
        }
        assert stored == fresh
        assert self._cov_rows(
            covariance_from_moments(read_master_moments(spark, mdir))
        ) == self._cov_rows(embedding_covariance(master, dim=DIM))

    @pytest.mark.slow
    def test_compaction_folds_moments_keyed(self, spark, tmp_path):
        from backend_big_data_spark.similarity.pca import (
            covariance_from_moments,
        )
        from backend_big_data_spark.streaming.margin_ingest import (
            read_master_moments,
        )

        mdir = str(tmp_path / "m")
        sink = margin_ingest_sink(mdir, **SINK_KW)
        sink(_df(spark, B1), 0)
        sink(_df(spark, [(20, _unit(3))]), 1)
        sink(_df(spark, [(21, _unit(4))]), 2)
        before = self._cov_rows(
            covariance_from_moments(read_master_moments(spark, mdir))
        )
        assert compact_margin_master(spark, mdir, keep_latest=1) == [0, 1]
        moments = read_master_moments(spark, mdir)
        assert moments is not None, "folded layout must stay covered"
        # the folded dir holds ONE row per (i, j) — the keyed sum ran
        n_rows = moments.filter("batch = 0").count()
        assert n_rows == DIM * (DIM + 1) // 2 + DIM + 1
        assert (
            self._cov_rows(covariance_from_moments(moments)) == before
        )

    @pytest.mark.slow
    def test_erasure_recounts_moments(self, spark, tmp_path):
        from backend_big_data_spark.similarity.pca import (
            covariance_from_moments,
            embedding_covariance,
        )
        from backend_big_data_spark.streaming.margin_ingest import (
            read_master_moments,
        )
        from backend_big_data_spark.streaming.retraction import (
            retract_from_margin_master,
        )

        mdir = str(tmp_path / "m")
        _run_two_batches(spark, mdir)
        out = retract_from_margin_master(
            spark, mdir, [1], dim=DIM, num_bits=4, num_tables=4
        )
        assert out["moment_dirs_rewritten"] == ["batch=0"]
        # erased vector's products are GONE: sidecar covariance equals a
        # fresh covariance of the surviving corpus
        assert self._cov_rows(
            covariance_from_moments(read_master_moments(spark, mdir))
        ) == self._cov_rows(
            embedding_covariance(read_margin_master(spark, mdir), dim=DIM)
        )

    @pytest.mark.slow
    def test_misaligned_fold_erasure_heals_moments(self, spark, tmp_path):
        """Master-only fold (compaction crash window) relocates batch-1's
        rows into batch=0, then an erasure arrives: the orphan
        moments/batch=1 is DELETED (its master dir is gone) and
        moments/batch=0 is RECOUNTED from the fold target — so the
        relocated survivor (id 22) is folded INTO the recount and the
        sidecar covariance stays exact, not merely uncovered."""
        from backend_big_data_spark.similarity.pca import (
            covariance_from_moments,
            embedding_covariance,
        )
        from backend_big_data_spark.streaming.maintenance import fold
        from backend_big_data_spark.streaming.margin_ingest import (
            read_master_moments,
        )
        from backend_big_data_spark.streaming.retraction import (
            retract_from_margin_master,
        )

        mdir = str(tmp_path / "m")
        sink = margin_ingest_sink(mdir, **SINK_KW)
        sink(_df(spark, B1), 0)
        sink(_df(spark, [(20, _unit(3)), (22, _unit(5))]), 1)
        sink(_df(spark, [(21, _unit(4))]), 2)
        fold(spark, mdir, "batch", 1)  # master only: moments lag
        out = retract_from_margin_master(
            spark, mdir, [20], dim=DIM, num_bits=4, num_tables=4
        )
        assert sorted(out["moment_dirs_rewritten"]) == ["batch=0", "batch=1"]
        assert not fsutil.exists(spark, f"{mdir}/moments/batch=1")
        moments = read_master_moments(spark, mdir)
        assert moments is not None
        assert self._cov_rows(covariance_from_moments(moments)) == (
            self._cov_rows(
                embedding_covariance(read_margin_master(spark, mdir), dim=DIM)
            )
        )

    def test_content_guard_catches_drifted_moments(self, spark, tmp_path):
        """Names can match while contents drift (aggregates carry no
        ids): a moment dir whose master dir silently gained rows fails
        the summed-row-count guard and the read falls back to None."""
        from backend_big_data_spark.similarity.pca import embedding_moments
        from backend_big_data_spark.streaming.margin_ingest import (
            read_master_moments,
        )

        mdir = str(tmp_path / "m")
        margin_ingest_sink(mdir, **SINK_KW)(_df(spark, B1), 0)
        assert read_master_moments(spark, mdir) is not None
        # corrupt: rewrite the sidecar from a 1-row frame (names intact)
        embedding_moments(
            _df(spark, [(99, _unit(6))]).select(
                F.col("id").alias("id"), "embedding"
            ),
            dim=DIM,
        ).write.mode("overwrite").parquet(f"{mdir}/moments/batch=0")
        assert read_master_moments(spark, mdir) is None

    def test_crash_window_replays_moment_recount(self, spark, tmp_path):
        from backend_big_data_spark.similarity.pca import (
            covariance_from_moments,
            embedding_covariance,
        )
        from backend_big_data_spark.streaming.margin_ingest import (
            read_master_moments,
        )
        from backend_big_data_spark.streaming.retraction import (
            _margin_journal_path,
            recover_margin_retraction,
            retract_ids,
        )

        mdir = str(tmp_path / "m")
        margin_ingest_sink(mdir, **SINK_KW)(_df(spark, B1), 0)
        fsutil.write_text_atomic(
            spark,
            _margin_journal_path(mdir),
            json.dumps(
                {
                    "ids": [1],
                    "dim": DIM,
                    "num_bits": 4,
                    "num_tables": 4,
                    "moment_dirs": ["batch=0"],
                }
            ),
        )
        retract_ids(spark, mdir, [1], id_col="id", drop_band_sidecar=False)
        recover_margin_retraction(spark, mdir)
        assert fsutil.read_text(spark, _margin_journal_path(mdir)) is None
        assert self._cov_rows(
            covariance_from_moments(read_master_moments(spark, mdir))
        ) == self._cov_rows(
            embedding_covariance(read_margin_master(spark, mdir), dim=DIM)
        )

    def test_covariance_from_moments_none_raises(self, spark):
        """The coverage-guard contract: read_master_moments returns None
        when the sidecar doesn't provably cover the master, and callers
        must fall back to the full scan — a None reaching the finisher is
        a caller bug and raises loudly, never AttributeError."""
        from backend_big_data_spark.similarity.pca import (
            covariance_from_moments,
        )

        with pytest.raises(ValueError, match="coverage guard"):
            covariance_from_moments(None)

    @pytest.mark.slow
    def test_dedup_exact_false_moments_cover_duplicate_rows(
        self, spark, tmp_path
    ):
        """Statistics-maintenance mode (`dedup_exact=False`, disarmed
        threshold): intra-batch EXACT-duplicate embeddings all admit, so
        covariance-from-sidecars equals the full-corpus covariance even
        on a duplicate-bearing corpus — the data-dependent fragility the
        default ER admission (min-id survives) would reintroduce."""
        from backend_big_data_spark.similarity.pca import (
            covariance_from_moments,
            embedding_covariance,
        )
        from backend_big_data_spark.streaming.margin_ingest import (
            read_master_moments,
        )

        rows = [(1, V0), (2, V1), (3, V1), (4, _near(2, 11))]  # 3 dups 2
        mdir = str(tmp_path / "m")
        sink = margin_ingest_sink(
            mdir, dim=DIM, threshold=float("inf"), dedup_exact=False
        )
        sink(_df(spark, rows[:2]), 0)
        sink(_df(spark, rows[2:]), 1)
        assert _master_ids(spark, mdir) == [1, 2, 3, 4]
        assert self._cov_rows(
            covariance_from_moments(read_master_moments(spark, mdir))
        ) == self._cov_rows(embedding_covariance(_df(spark, rows), dim=DIM))
        # contrast: the ER default collapses the duplicate (undercount)
        mdir2 = str(tmp_path / "m2")
        sink2 = margin_ingest_sink(mdir2, dim=DIM, threshold=float("inf"))
        sink2(_df(spark, rows[:2]), 0)
        sink2(_df(spark, rows[2:]), 1)
        assert _master_ids(spark, mdir2) == [1, 2, 3, 4]  # cross-batch dup admits
        sink3 = margin_ingest_sink(mdir2 + "x", dim=DIM, threshold=float("inf"))
        sink3(_df(spark, rows), 0)  # same-batch dup collapses
        assert _master_ids(spark, mdir2 + "x") == [1, 2, 4]
