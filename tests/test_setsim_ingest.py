"""Streaming token-set entity resolution (`streaming/setsim_ingest.py`)
and the one-sided indexed probe it runs.

The family's standard contract: indexed probe ≡ brute force, link/admit
semantics with the documented batch-internal compromise, stream ≡
sequential batches, replay idempotency, fold compaction leaving results
unchanged, maintained-freq coverage + fallback, plan guards (no
Exchange above the index scan; no index aggregate with the sidecar),
and journaled erasure with crash-window replay.
"""

from __future__ import annotations

import pytest

import itertools
import json
import os
import re

from pyspark.sql import functions as F

from backend_big_data_spark.operators.setsimjoin import (
    token_index,
    token_jaccard_join_indexed,
)
from backend_big_data_spark.sources import fsutil
from backend_big_data_spark.streaming.setsim_ingest import (
    compact_setsim_master,
    read_master_token_freq,
    read_master_tokens,
    read_setsim_master,
    setsim_ingest_sink,
    setsim_link_batch,
)

B1 = [
    (1, "alpha consolidated mills north"),
    (2, "beta containers corp south"),
    (3, "alpha consolidated mills east"),   # near-dup of 1 (J=3/5)
    (4, "beta containers corp south"),      # exact dup of 2
]
B2 = [
    (10, "alpha mills consolidated north"),  # reorder of master 1 (J=1)
    (11, "gamma fabrication works west"),    # novel
    (12, "beta containers corp north"),      # J=3/5 of master 2
]


def _toks(s):
    return set(t for t in s.split() if t)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, s string")


def _master_rows(spark, mdir):
    return sorted((r.id, r.s) for r in read_setsim_master(spark, mdir).collect())


def _links(spark, mdir, batch_id):
    return sorted(
        (r.dirty_id, r.master_id, r.inter_cnt, r.union_cnt)
        for r in spark.read.parquet(f"{mdir}/links/batch={batch_id}").collect()
    )


def _run_two_batches(spark, mdir):
    sink = setsim_ingest_sink(mdir)
    sink(_df(spark, B1), 0)
    sink(_df(spark, B2), 1)


class TestIndexedProbe:
    def test_matches_brute_force(self, spark):
        """The one-sided probe against a pre-built token index must be
        result-invariant (completeness by pigeonhole for ANY prefix
        ranking) — checked with both rankings against brute force."""
        probe_rows = B2
        master_rows = B1
        probe, master = _df(spark, probe_rows), _df(spark, master_rows)
        idx = token_index(master)
        freq = idx.groupBy("token").count().withColumnRenamed("count", "cnt")
        want = sorted(
            (i, j, len(_toks(a) & _toks(b)), len(_toks(a) | _toks(b)))
            for (i, a), (j, b) in itertools.product(probe_rows, master_rows)
            if _toks(a) and _toks(b)
            and len(_toks(a) & _toks(b)) * 5 >= len(_toks(a) | _toks(b)) * 3
        )
        for kw in ({}, {"index_freq": freq}):
            got = sorted(
                (r.probe_id, r.master_id, r.inter_cnt, r.union_cnt)
                for r in token_jaccard_join_indexed(
                    probe, idx, master, 3, 5, **kw
                ).collect()
            )
            assert got == want, kw


class TestSetsimSink:
    def test_link_admit_semantics(self, spark, tmp_path):
        mdir = str(tmp_path / "m")
        _run_two_batches(spark, mdir)
        # batch 0: empty master → no links; exact dup 4 resolves to 2;
        # near-dup 3 admitted alongside 1 (documented compromise)
        assert _links(spark, mdir, 0) == []
        assert _master_rows(spark, mdir) == sorted(
            [(1, B1[0][1]), (2, B1[1][1]), (3, B1[2][1]), (11, B2[1][1])]
        )
        # batch 1: 10 (a token-order permutation) links to masters 1 and
        # 3 (J 4/4 and 3/5); 12 links to master 2 (J 3/5)
        assert _links(spark, mdir, 1) == [
            (10, 1, 4, 4),
            (10, 3, 3, 5),
            (12, 2, 3, 5),
        ]
        idx_ids = {r.id for r in read_master_tokens(spark, mdir).collect()}
        assert idx_ids == {1, 2, 3, 11}

    def test_replay_idempotent(self, spark, tmp_path):
        mdir = str(tmp_path / "m")
        _run_two_batches(spark, mdir)
        before = (_master_rows(spark, mdir), _links(spark, mdir, 1))
        setsim_ingest_sink(mdir)(_df(spark, B2), 1)  # at-least-once retry
        assert (_master_rows(spark, mdir), _links(spark, mdir, 1)) == before

    @pytest.mark.slow
    def test_stream_matches_sequential_batches(self, spark, tmp_path):
        from backend_big_data_spark.streaming.setsim_ingest import (
            setsim_ingest_stream,
        )

        in_dir = tmp_path / "in"
        in_dir.mkdir()
        _df(spark, B1).coalesce(1).write.parquet(str(in_dir / "b1"))
        _df(spark, B2).coalesce(1).write.parquet(str(in_dir / "b2"))
        sdir = str(tmp_path / "stream_master")
        stream = (
            spark.readStream.schema("id long, s string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir / "*"))
        )
        q = setsim_ingest_stream(stream, sdir, checkpoint=str(tmp_path / "ck"))
        q.awaitTermination(120)

        tdir = str(tmp_path / "twin_master")
        _run_two_batches(spark, tdir)
        assert _master_rows(spark, sdir) == _master_rows(spark, tdir)
        assert _links(spark, sdir, 1) == _links(spark, tdir, 1)

    def test_tokfreq_matches_index_aggregate_and_falls_back(self, spark, tmp_path):
        import shutil

        mdir = str(tmp_path / "m")
        _run_two_batches(spark, mdir)
        maintained = {
            (r.token, r.cnt)
            for r in read_master_token_freq(spark, mdir)
            .groupBy("token")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        }
        on_the_fly = {
            (r.token, r["count"])
            for r in read_master_tokens(spark, mdir)
            .groupBy("token")
            .count()
            .collect()
        }
        assert maintained == on_the_fly
        shutil.rmtree(f"{mdir}/tokfreq/batch=0")
        assert read_master_token_freq(spark, mdir) is None

    @pytest.mark.slow
    def test_compaction_preserves_results(self, spark, tmp_path):
        mdir = str(tmp_path / "m")
        sink = setsim_ingest_sink(mdir)
        sink(_df(spark, B1), 0)
        sink(_df(spark, [(20, "delta shipping lines global")]), 1)
        sink(_df(spark, [(21, "epsilon freight group overseas")]), 2)
        before = _master_rows(spark, mdir)
        bfreq = {
            (r.token, r.cnt)
            for r in read_master_token_freq(spark, mdir)
            .groupBy("token").agg(F.sum("cnt").alias("cnt")).collect()
        }
        assert compact_setsim_master(spark, mdir, keep_latest=1) == [0, 1]
        assert _master_rows(spark, mdir) == before
        after_freq_df = read_master_token_freq(spark, mdir)
        assert after_freq_df is not None, "folded layout must stay covered"
        assert {
            (r.token, r.cnt)
            for r in after_freq_df.groupBy("token")
            .agg(F.sum("cnt").alias("cnt")).collect()
        } == bfreq
        sink(_df(spark, B2), 3)
        assert _links(spark, mdir, 3) == [
            (10, 1, 4, 4),
            (10, 3, 3, 5),
            (12, 2, 3, 5),
        ]

    def test_probe_plan_guards(self, spark, tmp_path):
        """(a) no Exchange between the index scan and its join (map-side
        scan); (b) with the maintained tokfreq the probe's only contact
        with the full index is the single candidate-join scan."""
        mdir = str(tmp_path / "m")
        setsim_ingest_sink(mdir)(_df(spark, B1), 0)
        master = read_setsim_master(spark, mdir)
        toks = read_master_tokens(spark, mdir)
        tfreq = read_master_token_freq(spark, mdir)
        assert tfreq is not None

        def plan_of(df):
            return df._jdf.queryExecution().executedPlan().toString()

        def index_scans(plan):
            # the (id, token) index scan: id# + token#, no cnt#, no s#
            return sum(
                1
                for ln in plan.splitlines()
                if "FileScan parquet" in ln
                and re.search(r"token#\d+", ln)
                and not re.search(r"cnt#\d+|\bs#\d+", ln)
            )

        with_freq = setsim_link_batch(
            _df(spark, B2), master, toks, master_token_freq=tfreq
        )
        batch_local = setsim_link_batch(_df(spark, B2), master, toks)
        p = plan_of(with_freq)
        assert "BroadcastHashJoin" in p
        # both rankings touch the full index exactly once (batch-local
        # ranking aggregates the PROBE's tokens, never the index; the
        # maintained sidecar gives the index-frequency ranking at the
        # same single-scan cost)
        assert index_scans(p) == 1
        assert index_scans(plan_of(batch_local)) == 1

        lines = p.splitlines()
        scan_lines = [
            i
            for i, ln in enumerate(lines)
            if "FileScan parquet" in ln
            and re.search(r"token#\d+", ln)
            and not re.search(r"cnt#\d+|\bs#\d+", ln)
        ]
        assert scan_lines

        def indent(s):
            return len(s) - len(s.lstrip(" :+-*"))

        for si in scan_lines:
            ind = indent(lines[si])
            for j in range(si - 1, -1, -1):
                if indent(lines[j]) < ind:
                    if "Exchange" in lines[j]:
                        raise AssertionError(
                            f"Exchange above index scan: {lines[j].strip()}"
                        )
                    if re.search(r"Join|Union", lines[j]):
                        break
                    ind = indent(lines[j])


class TestSetsimRetraction:
    @pytest.mark.slow
    def test_erase_then_reingest_and_sidecars_rewritten(self, spark, tmp_path):
        from backend_big_data_spark.streaming.retraction import (
            retract_from_setsim_master,
        )

        mdir = str(tmp_path / "m")
        sink = setsim_ingest_sink(mdir)
        sink(_df(spark, B1), 0)
        sink(_df(spark, B2), 1)
        out = retract_from_setsim_master(spark, mdir, [1])
        assert out["rows_removed"] == 1
        assert out["token_dirs_rewritten"] == ["batch=0"]
        assert {r.id for r in read_master_tokens(spark, mdir).collect()} == {
            2,
            3,
            11,
        }
        # links naming master 1 purged; link to master 3 survives
        assert _links(spark, mdir, 1) == [(10, 3, 3, 5), (12, 2, 3, 5)]
        # tokfreq consistent with the rewritten index
        maintained = {
            (r.token, r.cnt)
            for r in read_master_token_freq(spark, mdir)
            .groupBy("token").agg(F.sum("cnt").alias("cnt")).collect()
        }
        on_the_fly = {
            (r.token, r["count"])
            for r in read_master_tokens(spark, mdir)
            .groupBy("token").count().collect()
        }
        assert maintained == on_the_fly
        # an exact twin of the erased record produces NO ghost link to
        # the erased master id — it links only to the SURVIVING near-dup
        # master 3 (entity resolution working as specified)
        sink(_df(spark, [(30, B1[0][1])]), 2)
        assert _links(spark, mdir, 2) == [(30, 3, 3, 5)]
        assert 1 not in {
            r.master_id
            for r in spark.read.parquet(f"{mdir}/links/batch=2").collect()
        }

    def test_crash_window_replays_purge(self, spark, tmp_path):
        from backend_big_data_spark.streaming.retraction import (
            _setsim_journal_path,
            recover_setsim_retraction,
            retract_ids,
        )

        mdir = str(tmp_path / "m")
        setsim_ingest_sink(mdir)(_df(spark, B1), 0)
        fsutil.write_text_atomic(
            spark, _setsim_journal_path(mdir), json.dumps({"ids": [1]})
        )
        retract_ids(spark, mdir, [1], id_col="id", drop_band_sidecar=False)
        assert 1 in {r.id for r in read_master_tokens(spark, mdir).collect()}
        recover_setsim_retraction(spark, mdir)
        assert {r.id for r in read_master_tokens(spark, mdir).collect()} == {2, 3}
        assert fsutil.read_text(spark, _setsim_journal_path(mdir)) is None
        # idempotent
        recover_setsim_retraction(spark, mdir)
        assert {r.id for r in read_master_tokens(spark, mdir).collect()} == {2, 3}


class TestCompactionCrashMisalignment:
    """A compaction crash BETWEEN the master fold and the sidecar folds
    leaves index dirs whose master dir no longer exists. Two guarantees
    cover it: (a) a retraction arriving in that state rewrites the
    orphaned sidecar dir in place — other entities' live index rows
    survive (deleting the dir would silently lose their future links) —
    and (b) the next compaction re-aligns the sidecars even though the
    master fold itself finds nothing to do."""

    C0 = [
        (1, "alpha consolidated mills north"),
        (2, "beta containers corp south"),
    ]
    C1 = [
        (11, "gamma fabrication works west"),
        (12, "delta precision tools south"),
    ]
    C2 = [(21, "epsilon motors north")]

    def _build_misaligned(self, spark, tmp_path):
        from backend_big_data_spark.streaming.maintenance import fold

        mdir = str(tmp_path / "m")
        sink = setsim_ingest_sink(mdir)
        sink(_df(spark, self.C0), 0)
        sink(_df(spark, self.C1), 1)
        sink(_df(spark, self.C2), 2)
        # simulate the crash: master folds {0,1}->0, sidecars untouched
        assert fold(spark, mdir, "batch", 1) == [0, 1]
        master_dirs = set(fsutil.list_subdirs(spark, mdir, prefix="batch="))
        token_dirs = set(
            fsutil.list_subdirs(spark, f"{mdir}/tokens", prefix="batch=")
        )
        assert master_dirs == {"batch=0", "batch=2"}
        assert token_dirs == {"batch=0", "batch=1", "batch=2"}
        return mdir

    @pytest.mark.slow
    def test_retraction_preserves_other_entities_in_orphan_dir(
        self, spark, tmp_path
    ):
        from backend_big_data_spark.streaming.retraction import (
            retract_from_setsim_master,
        )

        mdir = self._build_misaligned(spark, tmp_path)
        out = retract_from_setsim_master(spark, mdir, [11])
        assert out["rows_removed"] == 1
        # entity 12 was admitted in the same (now master-less) batch dir:
        # its index rows must survive the purge of 11
        assert {r.id for r in read_master_tokens(spark, mdir).collect()} == {
            1,
            2,
            12,
            21,
        }
        # tokfreq recounted consistently with the rewritten index
        maintained = {
            (r.token, r.cnt)
            for r in read_master_token_freq(spark, mdir)
            .groupBy("token")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        }
        on_the_fly = {
            (r.token, r["count"])
            for r in read_master_tokens(spark, mdir)
            .groupBy("token")
            .count()
            .collect()
        }
        assert maintained == on_the_fly
        # the erased entity's tokens are GONE (erasure guarantee)...
        assert "gamma" not in {t for t, _ in maintained}
        # ...and a future batch still links to the surviving entity 12
        # through the maintained index (the old delete-the-dir behavior
        # lost exactly this link)
        sink = setsim_ingest_sink(mdir)
        sink(_df(spark, [(30, self.C1[1][1])]), 3)
        assert _links(spark, mdir, 3) == [(30, 12, 4, 4)]

    @pytest.mark.slow
    def test_next_compaction_realigns_sidecars(self, spark, tmp_path):
        from backend_big_data_spark.streaming.setsim_ingest import (
            compact_setsim_master,
        )

        mdir = self._build_misaligned(spark, tmp_path)
        # master fold finds nothing to do ({0,2} with keep_latest=1), but
        # the sidecar folds must still catch up
        assert compact_setsim_master(spark, mdir, keep_latest=1) == []
        for sub in ("tokens", "tokfreq"):
            assert set(
                fsutil.list_subdirs(spark, f"{mdir}/{sub}", prefix="batch=")
            ) == {"batch=0", "batch=2"}, sub
        # and the probe state still resolves every admitted entity
        sink = setsim_ingest_sink(mdir)
        sink(_df(spark, [(31, self.C1[0][1])]), 3)
        assert _links(spark, mdir, 3) == [(31, 11, 4, 4)]


class TestTopkLinkMode:
    @pytest.mark.slow
    def test_topk_links_are_deterministic_winners(self, spark, tmp_path):
        """topk mode must emit, per batch record, exactly its best-match
        rows in `token_jaccard_topk` order (exact-fraction key, master-id
        tie-break), while ADMISSION stays identical to all-pairs mode."""
        mdir = str(tmp_path / "m")
        sink = setsim_ingest_sink(mdir, link_mode="topk", k=1)
        sink(_df(spark, B1), 0)
        sink(_df(spark, B2), 1)
        # record 10 matches masters 1 (J=4/4) and 3 (J=3/5): top-1 is 1
        got = sorted(
            (r.dirty_id, r.master_id, r.rank, r.inter_cnt, r.union_cnt)
            for r in spark.read.parquet(f"{mdir}/links/batch=1").collect()
        )
        assert got == [(10, 1, 1, 4, 4), (12, 2, 1, 3, 5)]
        # admission is mode-independent: same master as all-pairs mode
        adir = str(tmp_path / "a")
        _run_two_batches(spark, adir)
        assert _master_rows(spark, mdir) == _master_rows(spark, adir)

    def test_k2_emits_ranked_runners_up(self, spark, tmp_path):
        mdir = str(tmp_path / "m")
        sink = setsim_ingest_sink(mdir, link_mode="topk", k=2)
        sink(_df(spark, B1), 0)
        sink(_df(spark, B2), 1)
        got = sorted(
            (r.dirty_id, r.master_id, r.rank)
            for r in spark.read.parquet(f"{mdir}/links/batch=1").collect()
        )
        assert got == [(10, 1, 1), (10, 3, 2), (12, 2, 1)]

    def test_bad_mode_raises(self, spark, tmp_path):
        import pytest

        with pytest.raises(ValueError, match="link_mode"):
            setsim_ingest_sink(str(tmp_path / "m"), link_mode="best")

    @pytest.mark.slow
    def test_stream_matches_sequential_batches_topk(self, spark, tmp_path):
        from backend_big_data_spark.streaming.setsim_ingest import (
            setsim_ingest_stream,
        )

        in_dir = tmp_path / "in"
        in_dir.mkdir()
        _df(spark, B1).coalesce(1).write.parquet(str(in_dir / "b1"))
        _df(spark, B2).coalesce(1).write.parquet(str(in_dir / "b2"))
        sdir = str(tmp_path / "stream_master")
        stream = (
            spark.readStream.schema("id long, s string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir / "*"))
        )
        q = setsim_ingest_stream(
            stream, sdir, checkpoint=str(tmp_path / "ck"), link_mode="topk"
        )
        q.awaitTermination(120)

        tdir = str(tmp_path / "twin_master")
        tsink = setsim_ingest_sink(tdir, link_mode="topk")
        tsink(_df(spark, B1), 0)
        tsink(_df(spark, B2), 1)
        assert _master_rows(spark, sdir) == _master_rows(spark, tdir)
        stream_links = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{sdir}/links/batch=1").collect()
        )
        twin_links = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{tdir}/links/batch=1").collect()
        )
        assert stream_links == twin_links and stream_links


class TestTokenBucketedFold:
    """Round 12: the bucket fold applied to the setsim token index —
    completing the bucketed-layout matrix (BM25 terms, linkage grams,
    setsim tokens). Mirrors TestGramBucketedFold in
    tests/test_linkage_ingest.py."""

    def _seed(self, spark, mdir):
        from backend_big_data_spark.streaming.setsim_ingest import (
            seed_setsim_master_batch,
        )

        seed_setsim_master_batch(spark, mdir, _df(spark, B1[:2]), 0)
        seed_setsim_master_batch(spark, mdir, _df(spark, [B1[2]]), 1)

    def _served(self, spark, mdir, probe):
        from backend_big_data_spark.streaming.setsim_ingest import (
            probe_master_tokens,
        )

        index = probe_master_tokens(spark, mdir, probe)
        return sorted(
            (r.probe_id, r.master_id, r.inter_cnt, r.union_cnt)
            for r in token_jaccard_join_indexed(
                probe,
                index,
                read_setsim_master(spark, mdir),
                3,
                5,
                index_freq=read_master_token_freq(spark, mdir),
            ).collect()
        )

    def test_bucketed_fold_preserves_links(self, spark, tmp_path):
        mdir = str(tmp_path / "m")
        self._seed(spark, mdir)
        probe = _df(spark, B2)
        want = self._served(spark, mdir, probe)
        assert want, "probe must link something"
        compact_setsim_master(spark, mdir, keep_latest=0, token_buckets=4)
        assert self._served(spark, mdir, probe) == want

    @pytest.mark.slow
    def test_probe_prunes_partitions_and_sticky_width(self, spark, tmp_path):
        import contextlib
        import io

        from backend_big_data_spark.streaming.setsim_ingest import (
            probe_master_tokens,
            seed_setsim_master_batch,
        )

        mdir = str(tmp_path / "m")
        self._seed(spark, mdir)
        compact_setsim_master(spark, mdir, keep_latest=0, token_buckets=4)
        index = probe_master_tokens(spark, mdir, _df(spark, B2))
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            index.explain("formatted")
        part_lines = [
            line
            for line in buf.getvalue().splitlines()
            if "PartitionFilters" in line
        ]
        assert any("__tb" in line for line in part_lines), part_lines
        # flat tail + sticky re-bucket
        seed_setsim_master_batch(
            spark, mdir, _df(spark, [(20, "gamma fabrication works west")]), 2
        )
        probe = _df(spark, B2)
        got = self._served(spark, mdir, probe)
        assert any(m == 20 for _, m, _, _ in got), "flat tail probe-visible"
        compact_setsim_master(spark, mdir, keep_latest=0)  # sticky width
        meta = json.loads(
            fsutil.read_text(spark, f"{mdir}/tokens/_token_buckets.json")
        )
        assert meta == {"n_buckets": 4}
        assert self._served(spark, mdir, probe) == got

    def test_retraction_preserves_bucketed_layout(self, spark, tmp_path):
        from backend_big_data_spark.streaming.retraction import (
            retract_from_setsim_master,
        )
        from backend_big_data_spark.streaming.setsim_ingest import (
            seed_setsim_master_batch,
        )

        mdir = str(tmp_path / "m")
        self._seed(spark, mdir)
        compact_setsim_master(spark, mdir, keep_latest=0, token_buckets=4)
        seed_setsim_master_batch(
            spark, mdir, _df(spark, [(20, "gamma fabrication works west")]), 2
        )  # flat tail — the purge probe must handle the MIXED layout
        out = retract_from_setsim_master(spark, mdir, [1])
        assert out["rows_removed"] == 1
        toks = read_master_tokens(spark, mdir)
        assert toks.filter(F.col("id") == 1).count() == 0
        sub = fsutil.list_subdirs(
            spark, f"{mdir}/tokens/batch=0", prefix="__tb="
        )
        assert sub, "token purge must preserve the bucketed layout"
        got = self._served(spark, mdir, _df(spark, B2))
        assert all(m != 1 for _, m, _, _ in got)
        assert any(m == 2 for _, m, _, _ in got), "survivors still link"
