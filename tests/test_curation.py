"""Unit semantics for the round-4 curation batch: segment boilerplate
dedup, blocklist filtering, snapshot diff, funnel ordering, and the
streaming deduplicating-ingest sink (streaming == sequential batch)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from backend_big_data_spark.etl.snapshot_diff import diff_summary, snapshot_diff
from backend_big_data_spark.text.filtering import blocklist_profile
from backend_big_data_spark.text.segments import (
    doc_segments,
    hot_segments,
    strip_boilerplate,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# segments
# ---------------------------------------------------------------------------


def test_doc_segments_indices_and_tail(spark):
    df = _docs(spark, [(1, "a b c d e f g h i j")])
    rows = {
        r["seg_idx"]: r["segment"]
        for r in doc_segments(df, seg_len=4).collect()
    }
    # 10 tokens → 3 segments, trailing partial kept
    assert rows == {0: "a b c d", 1: "e f g h", 2: "i j"}


def test_hot_segments_counts_distinct_docs(spark):
    # "x y z w" appears twice in doc 1 but that is ONE distinct doc
    df = _docs(
        spark,
        [
            (1, "x y z w x y z w"),
            (2, "x y z w p q r s"),
            (3, "x y z w t u v a"),
        ],
    )
    segs = doc_segments(df, seg_len=4)
    hot = {r["segment"]: r["seg_df"] for r in hot_segments(segs, max_df=2).collect()}
    assert hot == {"x y z w": 3}
    # max_df=3: nothing exceeds three distinct docs
    assert hot_segments(segs, max_df=3).count() == 0


def test_strip_boilerplate_reassembles_in_order_and_drops_empty(spark):
    boiler = "copy right foot er"
    df = _docs(
        spark,
        [
            (1, f"{boiler} alpha beta gamma delta"),
            (2, f"{boiler} epsilon zeta eta theta"),
            (3, f"{boiler} iota kappa lambda mu"),
            (4, boiler),  # all-boilerplate doc → removed entirely
        ],
    )
    out = {
        r["doc_id"]: r for r in strip_boilerplate(df, seg_len=4, max_df=2).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1]["clean_text"] == "alpha beta gamma delta"
    assert out[1]["n_kept"] == 1 and out[1]["n_dropped"] == 1


def test_strip_boilerplate_noop_when_no_recurrence(spark):
    df = _docs(spark, [(1, "a b c d"), (2, "e f g h")])
    out = strip_boilerplate(df, seg_len=4, max_df=1).orderBy("doc_id").collect()
    assert [r["clean_text"] for r in out] == ["a b c d", "e f g h"]
    assert all(r["n_dropped"] == 0 for r in out)


# ---------------------------------------------------------------------------
# blocklist
# ---------------------------------------------------------------------------


def test_blocklist_profile_density_verdict(spark):
    df = _docs(
        spark,
        [
            (1, "good words only here now then"),  # 0/6
            (2, "slow slow error ok ok ok ok ok ok ok"),  # 3/10 → dropped
            (3, " ".join(["ok"] * 99 + ["dup"])),  # 1/100 → kept at 5%
        ],
    )
    out = {r["doc_id"]: r for r in blocklist_profile(df, max_ratio=0.05).collect()}
    assert out[1]["n_blocked"] == 0 and out[1]["kept"]
    assert out[2]["n_blocked"] == 3 and not out[2]["kept"]
    assert out[3]["n_blocked"] == 1 and out[3]["kept"]
    assert out[2]["blocked_ratio"] == pytest.approx(0.3)


# ---------------------------------------------------------------------------
# snapshot diff
# ---------------------------------------------------------------------------


def test_snapshot_diff_all_four_statuses(spark):
    old = _docs(spark, [(1, "same"), (2, "will change"), (3, "goes away")])
    new = _docs(spark, [(1, "same"), (2, "changed!"), (4, "brand new")])
    out = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}
    summary = {r["status"]: r["n_docs"] for r in diff_summary(snapshot_diff(old, new)).collect()}
    assert summary == {"unchanged": 1, "changed": 1, "removed": 1, "added": 1}


# ---------------------------------------------------------------------------
# funnel ordering
# ---------------------------------------------------------------------------


def test_funnel_requires_stage_order(spark, tmp_path):
    # user 10: view→click→purchase (converts). user 20: click BEFORE view,
    # purchase before click — counts as view-only. user 30: view+click, no
    # purchase.
    rows = [
        (1, "2024-01-01 10:00:00", 10, "view"),
        (2, "2024-01-01 10:05:00", 10, "click"),
        (3, "2024-01-01 10:30:00", 10, "purchase"),
        (4, "2024-01-01 09:00:00", 20, "click"),
        (5, "2024-01-01 09:30:00", 20, "view"),
        (6, "2024-01-01 08:00:00", 20, "purchase"),
        (7, "2024-01-01 11:00:00", 30, "view"),
        (8, "2024-01-01 11:10:00", 30, "click"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
        "value", F.lit(0.0)
    ).withColumn("props", F.lit("{}"))
    sf = str(tmp_path / "funnel_sf")
    df.write.parquet(sf + "/events.parquet")

    from backend_big_data_spark.plans.curation import events_funnel_conversion

    row = events_funnel_conversion(spark, sf).collect()[0]
    assert row["view_users"] == 3
    assert row["click_users"] == 2  # users 10 and 30
    assert row["purchase_users"] == 1  # user 10 only
    assert row["avg_convert_sec"] == pytest.approx(1800.0)


# ---------------------------------------------------------------------------
# streaming deduplicating ingest
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_stream_ingest_dedup_matches_sequential_batches(spark, tmp_path):
    from backend_big_data_spark.streaming.ingest_dedup import (
        dedup_batch_against_corpus,
        dedup_ingest_stream,
        read_corpus,
    )
    from backend_big_data_spark.text.dedup import release_dedup_caches

    base = "w" + " x y z a b c d e f g h i j k l m n o p q r s t u v"
    rows_b1 = [
        (1, base),
        (2, base + " tail1"),  # near-dup of 1 within batch → removed
        (3, "completely different words here make this unique forever ok"),
        (4, base),  # exact within-batch dup of 1 → removed
    ]
    rows_b2 = [
        (5, base + " tail2"),  # near-dup of admitted 1 → removed
        (6, "another standalone document with its own distinct token stream"),
        (7, "completely different words here make this unique forever ok"),  # exact vs corpus
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    df1 = _docs(spark, rows_b1)
    df2 = _docs(spark, rows_b2)
    # one file per batch; maxFilesPerTrigger=1 → two serial micro-batches
    df1.coalesce(1).write.parquet(str(in_dir / "b1"))
    df2.coalesce(1).write.parquet(str(in_dir / "b2"))

    corpus_dir = str(tmp_path / "corpus")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "*"))
    )
    q = dedup_ingest_stream(
        stream, corpus_dir, checkpoint=str(tmp_path / "ckpt"), threshold=0.5
    )
    q.awaitTermination(120)
    release_dedup_caches()

    got = sorted(
        r["doc_id"] for r in read_corpus(spark, corpus_dir).select("doc_id").collect()
    )

    # sequential batch application of the same operator
    c1 = dedup_batch_against_corpus(df1, None, threshold=0.5)
    c2 = dedup_batch_against_corpus(df2, c1, threshold=0.5)
    release_dedup_caches()
    want = sorted(
        [r["doc_id"] for r in c1.collect()] + [r["doc_id"] for r in c2.collect()]
    )
    assert got == want
    assert 1 in got and 3 in got and 6 in got
    assert 2 not in got and 4 not in got and 7 not in got


# ---------------------------------------------------------------------------
# quality-aware retention (doc_corpus_dedup_best policy)
# ---------------------------------------------------------------------------


def test_dedup_best_keeps_longest_not_min_id(spark, tmp_path):
    # docs 1/2/3 are a near-dup cluster; 3 is the LONGEST → kept even
    # though 1 has the min id. doc 4 is standalone. docs 5/6 are exact
    # dups → canonical (5) kept.
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
           "lambda mu nu xi omicron pi rho sigma tau upsilon"
    rows = [
        (1, base),
        (2, base + " phi"),
        (3, base + " phi chi"),
        (4, "entirely different unrelated content with unique words only"),
        (5, "twin text one two three four five six seven eight nine"),
        (6, "twin text one two three four five six seven eight nine"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sf = str(tmp_path / "bestsf")
    df.select(
        "doc_id", "text", F.lit("en").alias("lang"), F.lit("src").alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    ).write.parquet(sf + "/documents.parquet")

    from backend_big_data_spark.plans.curation import doc_corpus_dedup_best
    from backend_big_data_spark.text.dedup import release_dedup_caches

    kept = sorted(r["doc_id"] for r in doc_corpus_dedup_best(spark, sf).collect())
    release_dedup_caches()
    assert kept == [3, 4, 5]


# ---------------------------------------------------------------------------
# product quantization invariants
# ---------------------------------------------------------------------------


def _emb(spark, n, dim=8, seed=7):
    import random

    rnd = random.Random(seed)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pq_anchor_vectors_reconstruct_exactly(spark):
    from backend_big_data_spark.similarity.pq import (
        anchor_codebooks,
        pq_encode,
        pq_reconstruct,
    )

    df = _emb(spark, 12, dim=8)
    cb = anchor_codebooks(df, m=2, d_sub=4, ksub=4)
    assert cb.count() == 2 * 4
    codes = pq_encode(df, cb, m=2, d_sub=4)
    recon = {r["vec_id"]: r["recon"] for r in pq_reconstruct(codes, cb).collect()}
    orig = {r["vec_id"]: r["embedding"] for r in df.collect()}
    # the 4 anchor vectors (ids 0-3) are IN the codebook -> exact round-trip
    for vid in range(4):
        assert recon[vid] == pytest.approx(orig[vid], abs=0)
    # codes are the at-rest form: every vector has exactly m rows
    import collections

    cnt = collections.Counter(r["vec_id"] for r in codes.collect())
    assert all(v == 2 for v in cnt.values()) and len(cnt) == 12


def test_pq_full_codebook_degrades_to_brute_force(spark):
    from backend_big_data_spark.similarity.ann import brute_force_cosine_topk
    from backend_big_data_spark.similarity.pq import pq_cosine_topk

    df = _emb(spark, 10, dim=8)
    queries = df.filter(F.col("vec_id") < 3)
    # ksub = corpus size -> every vector is an anchor -> reconstruction is
    # exact -> PQ ranking == brute force ranking
    pq = pq_cosine_topk(df, queries, k=3, m=2, ksub=10, dim=8)
    bf = brute_force_cosine_topk(df, queries, k=3)
    assert sorted(map(tuple, pq.collect())) == sorted(map(tuple, bf.collect()))


# ---------------------------------------------------------------------------
# z-order layout: measured file-pruning win
# ---------------------------------------------------------------------------


def test_zorder_layout_prunes_more_files_than_linear(spark, tmp_path):
    from backend_big_data_spark.sources.zorder import (
        morton_code,
        quantize,
        zorder_layout,
    )

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    bounds = orders.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("o_totalprice"), F.max("o_totalprice"),
    ).collect()[0]
    ck_mn, ck_mx, tp_mn, tp_mx = [float(v) for v in bounds]

    code = morton_code(
        quantize(F.col("o_custkey"), ck_mn, ck_mx, bits=8),
        quantize(F.col("o_totalprice"), tp_mn, tp_mx, bits=8),
        bits=8,
    )
    n_files = 16
    linear = str(tmp_path / "linear")
    zpath = str(tmp_path / "zorder")
    # linear layout: sorted by ONE column only (the classic single-key sort)
    orders.repartitionByRange(n_files, "o_custkey").sortWithinPartitions(
        "o_custkey"
    ).write.parquet(linear)
    zorder_layout(orders, code, num_files=n_files).write.parquet(zpath)

    # one filter per dimension, each selecting ~10% of that column: the
    # linear layout answers the custkey filter from ~2 files but must open
    # ALL files for the price filter; the curve layout answers BOTH from a
    # strict subset. Z-order's claim is the better WORST case / total
    # across filter dimensions, not beating a single-key sort on its own
    # sorted key.
    ck_lo, ck_hi = ck_mn + 0.45 * (ck_mx - ck_mn), ck_mn + 0.55 * (ck_mx - ck_mn)
    tp_lo, tp_hi = tp_mn + 0.45 * (tp_mx - tp_mn), tp_mn + 0.55 * (tp_mx - tp_mn)
    ck_pred = F.col("o_custkey").between(ck_lo, ck_hi)
    tp_pred = F.col("o_totalprice").between(tp_lo, tp_hi)

    def files_hit(path, pred):
        return (
            spark.read.parquet(path)
            .filter(pred)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )

    # layout must not change results
    for pred in (ck_pred, tp_pred):
        n_lin = spark.read.parquet(linear).filter(pred).count()
        n_z = spark.read.parquet(zpath).filter(pred).count()
        assert n_lin == n_z and n_z > 0

    lin_ck, lin_tp = files_hit(linear, ck_pred), files_hit(linear, tp_pred)
    z_ck, z_tp = files_hit(zpath, ck_pred), files_hit(zpath, tp_pred)
    # single-key sort: perfect on its key, hopeless on the other
    assert lin_ck <= 3 and lin_tp == n_files
    # curve: strict subset on BOTH dimensions...
    assert z_ck < n_files and z_tp < n_files
    # ...and a better worst case and total than the linear layout
    assert max(z_ck, z_tp) < max(lin_ck, lin_tp)
    assert z_ck + z_tp < lin_ck + lin_tp


def test_ivf_pq_full_probe_full_rerank_degrades_to_brute_force(spark):
    from backend_big_data_spark.similarity.ann import brute_force_cosine_topk
    from backend_big_data_spark.similarity.pq import ivf_pq_cosine_topk

    df = _emb(spark, 20, dim=8, seed=11)
    queries = df.filter(F.col("vec_id") < 3)
    cents = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").cast("int").alias("list_id"),
        F.col("embedding").alias("centroid"),
    )
    # nprobe = nlist (every list probed) + ksub = corpus size (residual
    # codebook contains every residual -> exact reconstruction) + rerank
    # >= corpus -> identical to brute force
    out = ivf_pq_cosine_topk(
        df, queries, k=3, m=2, ksub=20, nprobe=4, rerank=25,
        centroids=cents, dim=8,
    )
    bf = brute_force_cosine_topk(df, queries, k=3)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, bf.collect()))


# ---------------------------------------------------------------------------
# streaming funnel (applyInPandasWithState) vs the batch query
# ---------------------------------------------------------------------------


def test_streaming_funnel_matches_batch_counts(spark, tmp_path):
    from backend_big_data_spark.plans.curation import events_funnel_conversion
    from backend_big_data_spark.streaming.events import read_events_stream
    from backend_big_data_spark.streaming.funnel import user_funnel_stages
    from tests.conftest import SF_SMALL

    stream = read_events_stream(spark, SF_SMALL)
    q = (
        user_funnel_stages(stream)
        .writeStream.format("memory")
        .queryName("funnel_stages")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        """SELECT CAST(COUNT(t_view) AS BIGINT) AS view_users,
                  CAST(COUNT(t_click) AS BIGINT) AS click_users,
                  CAST(COUNT(t_purchase) AS BIGINT) AS purchase_users
           FROM funnel_stages"""
    ).collect()[0]
    want = events_funnel_conversion(spark, SF_SMALL).collect()[0]
    assert got["view_users"] == want["view_users"]
    assert got["click_users"] == want["click_users"]
    assert got["purchase_users"] == want["purchase_users"]


def test_streaming_funnel_two_batches_ordered_stages(spark, tmp_path):
    from backend_big_data_spark.streaming.funnel import user_funnel_stages

    b1 = [
        (1, "2024-01-01 10:00:00", 10, "view"),
        (2, "2024-01-01 09:00:00", 20, "click"),   # click before any view
    ]
    b2 = [
        (3, "2024-01-01 10:05:00", 10, "click"),   # after 10's view
        (4, "2024-01-01 10:30:00", 10, "purchase"),
        (5, "2024-01-01 09:30:00", 20, "view"),    # 20's view AFTER its click
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for name, rows in (("b1", b1), ("b2", b2)):
        spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, event_type string"
        ).withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
            "value", F.lit(0.0)
        ).withColumn("props", F.lit("{}")).coalesce(1).write.parquet(
            str(in_dir / name)
        )

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "*"))
    )
    q = (
        user_funnel_stages(stream)
        .writeStream.format("memory")
        .queryName("funnel_2b")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    import pandas as pd

    rows = spark.sql("SELECT * FROM funnel_2b").toPandas()
    # last emitted update per user = final state
    final = {
        int(u): g.iloc[-1] for u, g in rows.groupby("user_id", sort=True)
    }
    # user 10 converts across batches: view (b1) -> click+purchase (b2)
    assert pd.notna(final[10]["t_view"])
    assert pd.notna(final[10]["t_click"])
    assert pd.notna(final[10]["t_purchase"])
    # user 20's click preceded its view -> click stage never fills
    assert pd.notna(final[20]["t_view"])
    assert pd.isna(final[20]["t_click"]) and pd.isna(final[20]["t_purchase"])


@pytest.mark.slow
def test_trained_pq_codebooks_dominate_anchors_on_distortion(spark):
    from backend_big_data_spark.similarity.pq import (
        _sq_l2,
        anchor_codebooks,
        pq_cosine_topk,
        pq_encode,
        train_pq_codebooks,
    )

    df = _emb(spark, 80, dim=8, seed=3)
    m, d_sub, ksub = 2, 4, 4

    def distortion(cb):
        codes = pq_encode(df, cb, m=m, d_sub=d_sub)
        subs = F.array(
            *[F.slice(F.col("embedding"), j * d_sub + 1, d_sub) for j in range(m)]
        )
        expl = df.select(
            "vec_id", F.posexplode(subs).alias("sub_id", "subvec")
        ).select("vec_id", F.col("sub_id").cast("int"), "subvec")
        joined = codes.join(expl, ["vec_id", "sub_id"]).join(
            cb, ["sub_id", "code_id"]
        )
        return joined.agg(
            F.avg(_sq_l2(F.col("subvec"), F.col("codevec")))
        ).collect()[0][0]

    anch = anchor_codebooks(df, m=m, d_sub=d_sub, ksub=ksub)
    trained = train_pq_codebooks(df, m=m, d_sub=d_sub, ksub=ksub)
    assert trained.count() == m * ksub
    # KMeans minimizes exactly the encode objective
    assert distortion(trained) <= distortion(anch) + 1e-12
    # the trained frame drops into the same search path
    out = pq_cosine_topk(
        df, df.filter(F.col("vec_id") < 2), k=3, m=m, ksub=ksub, dim=8,
        codebooks=trained,
    )
    assert out.count() == 6


# ---------------------------------------------------------------------------
# late-data dead-letter routing
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_late_router_splits_by_event_clock(spark, tmp_path):
    from backend_big_data_spark.streaming.latedata import (
        read_event_clock,
        route_late_stream,
    )

    def ev(eid, ts, uid=1):
        return (eid, ts, uid, "view")

    b1 = [ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:30:00")]
    # batch 2: one fresh row, one >1h older than the clock (10:30) -> late,
    # and one 59-min-old row -> still on time
    b2 = [
        ev(3, "2024-01-01 11:00:00"),
        ev(4, "2024-01-01 09:15:00"),
        ev(5, "2024-01-01 09:31:00"),
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for name, rows in (("b1", b1), ("b2", b2)):
        spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, event_type string"
        ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(
            str(in_dir / name)
        )
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "*"))
    )
    main_dir = str(tmp_path / "main")
    late_dir = str(tmp_path / "late")
    q = route_late_stream(
        stream, main_dir, late_dir, checkpoint=str(tmp_path / "ck"), delay="1 hour"
    )
    q.awaitTermination(120)

    main_ids = sorted(
        r["event_id"]
        for r in spark.read.parquet(main_dir + "/batch=*").collect()
    )
    late_ids = sorted(
        r["event_id"]
        for r in spark.read.parquet(late_dir + "/batch=*").collect()
    )
    assert main_ids == [1, 2, 3, 5]
    assert late_ids == [4]
    # clock advanced to the max event time seen (11:00)
    import datetime

    clock = read_event_clock(spark, main_dir)
    assert clock == int(
        datetime.datetime(2024, 1, 1, 11, 0, tzinfo=datetime.timezone.utc).timestamp()
    ) * 1_000_000


# ---------------------------------------------------------------------------
# pandas GROUPED_AGG UDAF
# ---------------------------------------------------------------------------


def test_grouped_agg_udaf_matches_algebraic_twin(spark):
    from backend_big_data_spark.operators.udaf import (
        geometric_mean,
        geometric_mean_expr,
    )
    from tests.conftest import SF_SMALL

    orders = spark.read.parquet(SF_SMALL + "/orders.parquet")
    udaf = {
        r["o_orderpriority"]: r["g"]
        for r in orders.groupBy("o_orderpriority")
        .agg(geometric_mean(F.col("o_totalprice")).alias("g"))
        .collect()
    }
    alg = {
        r["o_orderpriority"]: r["g"]
        for r in orders.groupBy("o_orderpriority")
        .agg(geometric_mean_expr(F.col("o_totalprice")).alias("g"))
        .collect()
    }
    assert set(udaf) == set(alg) and len(udaf) == 5
    for k in udaf:
        assert udaf[k] == pytest.approx(alg[k], rel=1e-9)
    # and as a WINDOW aggregate (the other place GROUPED_AGG UDAFs plug in)
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority")
    with_g = orders.select(
        "o_orderpriority", geometric_mean(F.col("o_totalprice")).over(w).alias("g")
    ).distinct()
    got = {r["o_orderpriority"]: r["g"] for r in with_g.collect()}
    for k in got:
        assert got[k] == pytest.approx(alg[k], rel=1e-9)


# ---------------------------------------------------------------------------
# prefix-filtered exact set-similarity join
# ---------------------------------------------------------------------------


def test_prefix_join_equals_uncapped_inverted_index(spark):
    from backend_big_data_spark.text.dedup import (
        doc_shingles,
        ngram_jaccard_pairs,
        release_dedup_caches,
    )
    from backend_big_data_spark.text.setjoin import prefix_filtered_jaccard_pairs
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(SF_SMALL + "/documents.parquet")
    sh = doc_shingles(docs)
    want = sorted(
        map(tuple, ngram_jaccard_pairs(sh, threshold=0.5).collect())
    )
    got = sorted(
        map(tuple, prefix_filtered_jaccard_pairs(sh, threshold=0.5).collect())
    )
    release_dedup_caches()
    assert got == want and len(got) > 0


def test_prefix_join_hot_shingle_never_joins(spark):
    from backend_big_data_spark.text.setjoin import prefix_filtered_jaccard_pairs

    # every doc shares one boilerplate shingle (df = n): in the naive
    # inverted index that one key alone expands to n(n-1)/2 pairs; in the
    # prefix join it is the LAST token in the global order and (for
    # t=0.5, docs of >=4 shingles) outside every prefix — so the two
    # actually-similar docs are found from their rare shingles only
    rows = [(i, ["common"] + [f"u{i}_{j}" for j in range(9)]) for i in range(20)]
    rows[1] = (1, rows[0][1][:8] + ["x1", "x2"])  # 7 shared of 10+ → J>0.5
    df = spark.createDataFrame(rows, "doc_id long, shingles array<string>")
    out = prefix_filtered_jaccard_pairs(df, threshold=0.5)
    pairs = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    assert pairs == {(0, 1)}


def test_strip_boilerplate_is_idempotent_on_real_corpus(spark):
    """Property: surviving segments all have doc-frequency <= max_df, so a
    second pass removes nothing — the cleaning is a fixed point."""
    from backend_big_data_spark.text.segments import strip_boilerplate
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(SF_SMALL + "/documents.parquet")
    once = strip_boilerplate(docs, seg_len=4, max_df=2).select(
        F.col("doc_id"), F.col("clean_text").alias("text")
    )
    twice = strip_boilerplate(once, seg_len=4, max_df=2)
    a = {(r["doc_id"], r["clean_text"]) for r in twice.collect()}
    b = {(r["doc_id"], r["text"]) for r in once.collect()}
    assert a == b
    assert twice.filter(F.col("n_dropped") > 0).count() == 0


# ---------------------------------------------------------------------------
# streaming curated ingest (scrub -> quality gate -> corpus dedup)
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_stream_curated_ingest_scrubs_filters_and_dedups(spark, tmp_path):
    from backend_big_data_spark.streaming.curated_ingest import (
        curate_batch,
        curated_ingest_stream,
    )
    from backend_big_data_spark.streaming.ingest_dedup import read_corpus
    from backend_big_data_spark.text.dedup import release_dedup_caches

    base = "w" + " x y z a b c d e f g h i j k l m n o p q r s t u v"
    pii_tail = " reach out for the early dataset access program today"
    rows_b1 = [
        (1, base),
        (2, ("spam " * 20).strip()),          # low TTR, no stopwords -> quality fail
        (3, "contact alice@example.org" + pii_tail),   # PII; passes after scrub
        (4, base),                             # exact within-batch dup of 1
    ]
    rows_b2 = [
        (5, base + " tail2"),                  # near-dup of admitted 1
        (6, "another standalone document with its own distinct token stream"),
        # same text as 3 except a DIFFERENT email: after redaction the two
        # are byte-identical -> exact dup vs the scrubbed corpus. This only
        # dedups if scrub runs BEFORE fingerprinting (the pipeline order).
        (7, "contact bob@example.net" + pii_tail),
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    df1 = _docs(spark, rows_b1)
    df2 = _docs(spark, rows_b2)
    df1.coalesce(1).write.parquet(str(in_dir / "b1"))
    df2.coalesce(1).write.parquet(str(in_dir / "b2"))

    corpus_dir = str(tmp_path / "corpus")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "*"))
    )
    q = curated_ingest_stream(
        stream, corpus_dir, checkpoint=str(tmp_path / "ckpt"), threshold=0.5
    )
    q.awaitTermination(120)
    release_dedup_caches()

    corpus = {
        r["doc_id"]: r["text"] for r in read_corpus(spark, corpus_dir).collect()
    }
    assert sorted(corpus) == [1, 3, 6]
    assert "[EMAIL]" in corpus[3] and "@" not in corpus[3]

    # streaming == sequential batch application of the same operator
    c1 = curate_batch(df1, None, threshold=0.5)
    c2 = curate_batch(df2, c1, threshold=0.5)
    release_dedup_caches()
    want = sorted(
        [r["doc_id"] for r in c1.collect()] + [r["doc_id"] for r in c2.collect()]
    )
    assert sorted(corpus) == want


def test_removal_audit_consistent_with_funnel(spark):
    """Per-doc removal attribution sums to the funnel's stage deltas."""
    from backend_big_data_spark.plans.all_plans import QUERIES

    sf = "/root/testdata/sf0.001"
    funnel = {r.stage: r.n_docs for r in QUERIES["doc_cleaning_pipeline_funnel"](spark, sf).collect()}
    audit = QUERIES["doc_removal_audit"](spark, sf).collect()
    from collections import Counter

    by_status = Counter(r.status for r in audit)
    assert len(audit) == funnel["0_raw"]
    assert by_status["kept"] == funnel["5_temperature_mix"]
    assert by_status.get("removed_blocklist", 0) == funnel["0_raw"] - funnel["1_blocklist"]
    assert by_status.get("removed_boilerplate", 0) == funnel["1_blocklist"] - funnel["2_boilerplate"]
    assert by_status.get("removed_exact_dup", 0) == funnel["2_boilerplate"] - funnel["3_exact_dedup"]
    assert by_status.get("removed_quality", 0) == funnel["3_exact_dedup"] - funnel["4_quality"]
    assert by_status.get("dropped_mix", 0) == funnel["4_quality"] - funnel["5_temperature_mix"]


@pytest.mark.slow
def test_stream_ingest_maintains_fp_bloom_sidecar(spark, tmp_path):
    """The maintained (incrementally merged) corpus-fingerprint bitmap
    equals a from-scratch build over the final corpus, and the pre-filter
    leaves admissions unchanged (result-invariance is already covered by
    the sequential-equivalence test, which runs bloom-on stream vs
    bloom-off batches)."""
    from backend_big_data_spark.streaming.ingest_dedup import (
        _batch_fp_bloom,
        dedup_ingest_stream,
        load_corpus_bloom,
        read_corpus,
    )
    from backend_big_data_spark.text.dedup import release_dedup_caches

    base = "w" + " x y z a b c d e f g h i j k l m n o p q r s t u v"
    rows_b1 = [(1, base), (2, base + " tail1"), (3, "unique words here")]
    rows_b2 = [(4, base + " tail2"), (5, "another standalone document")]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    _docs(spark, rows_b1).coalesce(1).write.parquet(str(in_dir / "b1"))
    _docs(spark, rows_b2).coalesce(1).write.parquet(str(in_dir / "b2"))
    corpus_dir = str(tmp_path / "corpus")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "*"))
    )
    q = dedup_ingest_stream(
        stream, corpus_dir, checkpoint=str(tmp_path / "ckpt"), threshold=0.5
    )
    q.awaitTermination(120)
    release_dedup_caches()

    import os

    assert os.path.isfile(os.path.join(corpus_dir, "_fp_bloom.json"))
    maintained, covered = load_corpus_bloom(spark, corpus_dir)
    assert covered == {"batch=0", "batch=1"}
    scratch = _batch_fp_bloom(read_corpus(spark, corpus_dir))
    assert maintained == scratch

    # self-heal: delete the sidecar — load rebuilds the identical bitmap
    os.remove(os.path.join(corpus_dir, "_fp_bloom.json"))
    healed, covered2 = load_corpus_bloom(spark, corpus_dir)
    assert healed == scratch and covered2 == covered


def test_shard_assignment_equals_global_window(spark):
    """The two-level distributed prefix sum (per-bucket cumsum + bounded
    bucket-offset window) must equal the single global-window cumsum it
    replaces, and shards must be contiguous non-decreasing in the global
    order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from backend_big_data_spark.plans.all_plans import QUERIES
    from backend_big_data_spark.functions.textfns import tokens
    from backend_big_data_spark.sources.catalog import load_table
    from backend_big_data_spark.text.sampling import stable_hash

    sf = "/root/testdata/sf0.001"
    got = {r.doc_id: (r.token_start, r.shard)
           for r in QUERIES["doc_shard_assignment"](spark, sf).collect()}

    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n"),
        (stable_hash(F.col("doc_id")) % 32).alias("b"),
    )
    naive_w = Window.orderBy("b", "doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    naive = {
        r.doc_id: r.start
        for r in docs.withColumn(
            "start", F.coalesce(F.sum("n").over(naive_w), F.lit(0))
        ).collect()
    }
    assert {k: v[0] for k, v in got.items()} == naive
    # shards non-decreasing along the global order, starting at 0
    ordered = sorted(got.values())
    assert ordered[0][1] == 0
    assert all(a[1] <= b[1] for a, b in zip(ordered, ordered[1:]))


def test_source_dup_stats_known_rates(spark, tmp_path):
    import os

    from backend_big_data_spark.plans.all_plans import QUERIES

    rows = [
        (1, "same text", "a"), (2, "same text", "a"),      # a: 2 docs, 1 uniq
        (3, "other text", "a"), (4, "unique one", "b"),
        (5, "unique two", "b"),                             # b: no dups
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    d = str(tmp_path)
    df.write.parquet(os.path.join(d, "documents.parquet"))
    out = {r.source: r for r in QUERIES["source_dup_stats"](spark, d).collect()}
    assert (out["a"].n_docs, out["a"].n_unique) == (3, 2)
    assert out["a"].dup_ppm == 333333  # floor(1e6/3 + .5)
    assert (out["b"].n_docs, out["b"].n_unique, out["b"].dup_ppm) == (2, 2, 0)


def test_embedding_health_audit_flags_degenerates(spark, tmp_path):
    import math
    import os

    from backend_big_data_spark.plans.all_plans import QUERIES

    rows = [
        (1, [3.0, 4.0]),             # norm 5
        (2, [0.0, 0.0]),             # zero vector
        (3, [float("nan"), 1.0]),    # NaN contamination
        (4, [1.0, 0.0, 0.0]),        # ragged dim
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    d = str(tmp_path)
    df.write.parquet(os.path.join(d, "embeddings.parquet"))
    out = QUERIES["embedding_health_audit"](spark, d).collect()[0]
    assert out.n_vectors == 4
    assert (out.n_distinct_dims, out.min_dim, out.max_dim) == (2, 2, 3)
    assert out.n_zero_vectors == 1
    assert out.n_nan_vectors == 1
    # norm checksum: 5.0 + 0.0 + nan-poisoned + 1.0 — the NaN vector's
    # fixed-point norm is engine-defined only through floor(nan)=NULL...
    # assert instead on the two clean vectors' contribution via a
    # NaN-free rebuild
    clean = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (4, [1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    clean.write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    out2 = QUERIES["embedding_health_audit"](spark, d).collect()[0]
    assert out2.norm_sum_fp == 50000 + 0 + 10000  # 5.0, 0.0, 1.0 at 1e-4
    assert math.isfinite(out2.norm_sum_fp)


@pytest.mark.slow
def test_stream_ingest_dedup_replay_is_idempotent(spark, tmp_path):
    """At-least-once retry of a micro-batch must reproduce the SAME
    survivor set: the sink excludes batch N's own earlier output from the
    corpus probe, otherwise every prior survivor matches itself at
    fingerprint equality and the replay rewrites batch=N nearly empty."""
    from backend_big_data_spark.streaming.ingest_dedup import (
        ingest_dedup_sink,
        read_corpus,
    )
    from backend_big_data_spark.text.dedup import release_dedup_caches

    base = "w" + " x y z a b c d e f g h i j k l m n o p q r s t u v"
    df1 = _docs(spark, [(1, base), (2, "totally unrelated tokens in here")])
    df2 = _docs(
        spark,
        [(3, base + " tail2"), (4, "another fully distinct document body")],
    )
    corpus_dir = str(tmp_path / "corpus")
    sink = ingest_dedup_sink(corpus_dir, threshold=0.5)
    sink(df1, 0)
    sink(df2, 1)
    release_dedup_caches()
    before = sorted(
        (r["doc_id"], r["text"]) for r in read_corpus(spark, corpus_dir).collect()
    )
    assert [d for d, _ in before] == [1, 2, 4]  # 3 is a near-dup of 1

    sink(df2, 1)  # at-least-once retry of batch 1
    release_dedup_caches()
    after = sorted(
        (r["doc_id"], r["text"]) for r in read_corpus(spark, corpus_dir).collect()
    )
    assert after == before


def test_corpus_probe_has_no_corpus_side_exchange(spark, tmp_path):
    """With the admission-time fp column persisted, the vs-corpus
    exact-dup probe must plan as a broadcast semi-join over the corpus
    fp scan — NO Exchange (and no re-hash of corpus text) on the corpus
    side, at any corpus size."""
    from backend_big_data_spark.streaming.ingest_dedup import (
        ingest_dedup_sink,
        read_corpus,
    )
    from backend_big_data_spark.text.dedup import (
        incremental_dedup_kept,
        release_dedup_caches,
    )

    base = "w" + " x y z a b c d e f g h i j k l m n o p q r s t u v"
    corpus_dir = str(tmp_path / "corpus")
    sink = ingest_dedup_sink(corpus_dir, threshold=0.5, use_bloom=False)
    sink(_docs(spark, [(1, base), (2, "some other standalone text body")]), 0)
    release_dedup_caches()
    corpus = read_corpus(spark, corpus_dir)
    assert "fp" in corpus.columns  # admission-time fingerprint persisted

    batch = _docs(spark, [(3, base), (4, "fresh unseen tokens entirely")])
    tagged = batch.withColumn("__new", F.lit(True)).unionByName(
        corpus.select("doc_id", "text").withColumn("__new", F.lit(False))
    )
    empty_pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    kept = incremental_dedup_kept(
        tagged,
        is_new=F.col("__new"),
        verified_pairs=empty_pairs,
        corpus_fps=corpus.select(F.col("fp").alias("__fp")),
    )
    plan = kept._jdf.queryExecution().executedPlan().toString()
    # the corpus fp scan feeds a BroadcastHashJoin LeftSemi directly: in
    # the whole probe plan the only Exchanges allowed are over the BATCH
    # side (distinct of its fingerprints / final anti-join) — none may
    # hash-partition on the corpus fp scan's output
    assert "BroadcastHashJoin" in plan
    lines = plan.splitlines()
    scan_lines = [
        i for i, ln in enumerate(lines) if "Scan parquet" in ln and "fp" in ln
    ]
    assert scan_lines, "corpus fp scan not found in plan"
    # walk upward from the corpus scan: the first join reached must be the
    # broadcast semi-join, with no Exchange in between
    import re

    def indent(s):
        return len(s) - len(s.lstrip(" :+-*"))

    for si in scan_lines:
        ind = indent(lines[si])
        for j in range(si - 1, -1, -1):
            if indent(lines[j]) < ind:
                txt = lines[j]
                if "Exchange" in txt:
                    raise AssertionError(
                        f"Exchange above corpus scan: {txt.strip()}"
                    )
                if re.search(r"Join|Union", txt):
                    break
                ind = indent(lines[j])
    # and the decision is unchanged: 3 is an exact dup, 4 survives
    assert sorted(r.doc_id for r in kept.collect()) == [4]
    release_dedup_caches()


@pytest.mark.slow
def test_indexed_corpus_probe_matches_union_path(spark, tmp_path):
    """dedup_batch_against_corpus_indexed (maintained band sidecar) must
    produce the identical survivor set to the re-shingling union path —
    the band index memoizes the corpus side of a deterministic function
    of the text, so the candidate sets coincide."""
    from backend_big_data_spark.streaming.ingest_dedup import (
        batch_band_rows,
        dedup_batch_against_corpus,
        dedup_batch_against_corpus_indexed,
    )
    from backend_big_data_spark.text.dedup import release_dedup_caches

    base = "w" + " x y z a b c d e f g h i j k l m n o p q r s t u v"
    corpus = _docs(
        spark,
        [(1, base), (2, "totally different words occupy this document")],
    ).withColumn("fp", F.md5("text"))
    bands = batch_band_rows(corpus)
    batch = _docs(
        spark,
        [
            (10, base + " tail9"),   # near-dup of corpus 1
            (11, base),              # exact dup of corpus 1
            (12, "novel content with its very own tokens entirely here"),
            (13, "novel content with its very own tokens entirely here x"),
        ],
    )
    got = sorted(
        r.doc_id
        for r in dedup_batch_against_corpus_indexed(
            batch, corpus, bands, threshold=0.5
        ).collect()
    )
    release_dedup_caches()
    want = sorted(
        r.doc_id
        for r in dedup_batch_against_corpus(
            batch, corpus.select("doc_id", "text"), threshold=0.5
        ).collect()
    )
    release_dedup_caches()
    assert got == want
    # 10 (near-dup of corpus 1) and 11 (exact dup) must fall; 12 survives.
    # Whether 13 falls depends on the 4x4 banding surfacing the 12<->13
    # pair — the point here is that BOTH paths make the same call.
    assert 10 not in got and 11 not in got and 12 in got


@pytest.mark.slow
def test_stream_ingest_band_index_maintained_and_self_heals(spark, tmp_path):
    """The sink writes bands/batch=N per admission; deleting the sidecar
    and re-running ensure_band_index rebuilds it bit-for-bit (the
    completeness invariant a partial index would silently break)."""
    import shutil

    from backend_big_data_spark.streaming.ingest_dedup import (
        ensure_band_index,
        ingest_dedup_sink,
        read_corpus_bands,
    )
    from backend_big_data_spark.text.dedup import release_dedup_caches

    base = "w" + " x y z a b c d e f g h i j k l m n o p q r s t u v"
    corpus_dir = str(tmp_path / "corpus")
    sink = ingest_dedup_sink(corpus_dir, threshold=0.5)
    sink(_docs(spark, [(1, base), (2, "other standalone body of text")]), 0)
    sink(_docs(spark, [(3, base + " tail2"), (4, "fresh novel tokens")]), 1)
    release_dedup_caches()
    bands = read_corpus_bands(spark, corpus_dir)
    assert bands is not None
    before = sorted(map(tuple, bands.collect()))
    assert before  # admitted docs are indexed

    shutil.rmtree(str(tmp_path / "corpus" / "bands"))
    assert read_corpus_bands(spark, corpus_dir) is None
    healed = ensure_band_index(spark, corpus_dir)
    assert sorted(map(tuple, healed.collect())) == before


def test_indexed_probe_corpus_band_scan_has_no_exchange(spark, tmp_path):
    """The corpus side of the band probe must be a map-side broadcast
    semi-join over the sidecar scan — no Exchange above it."""
    from backend_big_data_spark.streaming.ingest_dedup import (
        ingest_dedup_sink,
        read_corpus,
        read_corpus_bands,
    )
    from backend_big_data_spark.text.dedup import release_dedup_caches
    from pyspark.sql import functions as SF

    base = "w" + " x y z a b c d e f g h i j k l m n o p q r s t u v"
    corpus_dir = str(tmp_path / "corpus")
    sink = ingest_dedup_sink(corpus_dir, threshold=0.5, use_bloom=False)
    sink(_docs(spark, [(1, base), (2, "other standalone body of text")]), 0)
    release_dedup_caches()
    corpus_bands = read_corpus_bands(spark, corpus_dir)
    batch = _docs(spark, [(10, base + " tail")])
    from backend_big_data_spark.streaming.ingest_dedup import batch_band_rows

    bbands = batch_band_rows(batch)
    hit = corpus_bands.join(
        SF.broadcast(bbands.select("band", "band_key").distinct()),
        on=["band", "band_key"],
        how="semi",
    )
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan.split("BroadcastExchange")[0]
    release_dedup_caches()


@pytest.mark.slow
def test_compact_ingest_corpus_preserves_semantics(spark, tmp_path):
    """Folding the commit-stable batch prefix (survivors + bands + bloom
    repoint) must leave reads identical AND leave the next batch's
    admission decision identical to the uncompacted twin."""
    import shutil

    from backend_big_data_spark.streaming.ingest_dedup import (
        ingest_dedup_sink,
        load_corpus_bloom,
        read_corpus,
        read_corpus_bands,
    )
    from backend_big_data_spark.streaming.maintenance import compact_ingest_corpus
    from backend_big_data_spark.text.dedup import release_dedup_caches

    base = "w" + " x y z a b c d e f g h i j k l m n o p q r s t u v"
    cdir = str(tmp_path / "corpus")
    sink = ingest_dedup_sink(cdir, threshold=0.5)
    sink(_docs(spark, [(1, base), (2, "first other body of text here")]), 0)
    sink(_docs(spark, [(3, "second standalone distinct document")]), 1)
    sink(_docs(spark, [(4, "third unrelated words entirely different")]), 2)
    release_dedup_caches()
    rows_before = sorted(
        (r["doc_id"], r["text"]) for r in read_corpus(spark, cdir).collect()
    )
    def _band_rows(d):
        # compare data columns only: the batch= partition component is
        # renamed by folding (by design), the index rows must not change
        return sorted(
            map(tuple, read_corpus_bands(spark, d)
                .select("doc_id", "band", "band_key").collect())
        )

    bands_before = _band_rows(cdir)
    twin = str(tmp_path / "twin")
    shutil.copytree(cdir, twin)

    folded = compact_ingest_corpus(spark, cdir, keep_latest=1)
    assert folded == [0, 1]
    import os

    assert sorted(
        n for n in os.listdir(cdir + "/bands") if n.startswith("batch=")
    ) == ["batch=0", "batch=2"]  # plus the fold-history sidecar
    assert sorted(
        (r["doc_id"], r["text"]) for r in read_corpus(spark, cdir).collect()
    ) == rows_before
    assert _band_rows(cdir) == bands_before
    # bloom sidecar repointed, not rebuilt: covered set == surviving dirs
    words, covered = load_corpus_bloom(spark, cdir)
    assert covered == {"batch=0", "batch=2"}

    b3 = _docs(spark, [(5, base + " tail"), (6, "genuinely new content")])
    sink(b3, 3)
    release_dedup_caches()
    ingest_dedup_sink(twin, threshold=0.5)(b3, 3)
    release_dedup_caches()
    got = sorted(r["doc_id"] for r in read_corpus(spark, cdir).collect())
    want = sorted(r["doc_id"] for r in read_corpus(spark, twin).collect())
    assert got == want and 5 not in got and 6 in got


@pytest.mark.slow
def test_fold_crash_recovery_all_interrupt_points(spark, tmp_path):
    """A fold interrupted at ANY point must never lose folded batches OR
    double-count them.

    Readers stay exact WITHOUT mutating (`fold_exclusions` — a mutating
    reader could destroy a live compactor's in-progress fold), and the
    compactor-side `recover_fold` repairs the directory on its next run:
    (A) temp dir written partially, no journal -> readers ignore it
        (sources intact); compactor rolls BACK;
    (B) complete temp + journal, nothing published -> sources are
        authoritative; readers exclude nothing; compactor rolls FORWARD;
    (C) published, journal present, stale source dirs remain -> readers
        exclude the superseded dirs (no double-count); compactor
        finishes the deletes.

    Two inputs: the drift monitor's ``delta=N`` counts (fold 0+1, keep
    2), and the linkage gram index read after a bucketed fold with a
    flat tail (fold the bucketed ``batch=0`` and the flat ``batch=3``
    into a bucketed ``batch=0``, keep the flat ``batch=4``), read pruned
    to a probe's grams.
    """
    import json
    import os
    import shutil

    from backend_big_data_spark.streaming.drift_monitor import (
        drift_monitor_sink,
        read_corpus_counts,
    )
    from backend_big_data_spark.streaming.linkage_ingest import (
        compact_linkage_master,
        read_master_grams,
        seed_master_batch,
    )
    from backend_big_data_spark.streaming.maintenance import (
        GRAM_INDEX,
        bucket_column,
        read_dirs,
        recover_fold,
    )

    def mk_counts(d):
        counts, metrics = str(d / "counts"), str(d / "metrics")
        sink = drift_monitor_sink(counts, metrics)
        sink(_docs(spark, [(1, "alpha beta gamma alpha")]), 0)
        sink(_docs(spark, [(2, "beta beta delta")]), 1)
        sink(_docs(spark, [(3, "gamma epsilon")]), 2)
        return counts

    def read_counts(cdir):
        return sorted(map(tuple, read_corpus_counts(spark, cdir).collect()))

    def counts_payload(cdir, tmp):
        spark.read.parquet(
            os.path.join(cdir, "delta=0"), os.path.join(cdir, "delta=1")
        ).groupBy("tok").agg(F.sum("n").alias("n")).write.parquet(tmp)

    def entities(rows):
        return spark.createDataFrame(rows, "id long, s string")

    def mk_grams(d):
        mdir = str(d / "master")
        seed_master_batch(spark, mdir, entities([(1, "alpha beta"), (2, "gamma delta")]), 0)
        seed_master_batch(spark, mdir, entities([(3, "epsilon zeta")]), 1)
        compact_linkage_master(spark, mdir, keep_latest=0, gram_buckets=4)
        seed_master_batch(spark, mdir, entities([(4, "gamma fabrication")]), 3)
        seed_master_batch(spark, mdir, entities([(5, "theta gamma")]), 4)
        return os.path.join(mdir, "grams")

    def read_grams(gdir):
        probe = ["gam", "amm", "fab", "eps", "the", "zzz"]
        grams = read_master_grams(spark, os.path.dirname(gdir), probe_grams=probe)
        return sorted(map(tuple, grams.collect()))

    def grams_payload(gdir, tmp):
        read_dirs(spark, gdir, ["batch=0", "batch=3"]).drop("batch").withColumn(
            "__gb", bucket_column(GRAM_INDEX, 4)
        ).write.partitionBy("__gb").parquet(tmp)

    # the width and fold-history files, each with the local filesystem's
    # checksum file
    gram_sidecars = [
        "._fold_history_batch.json.crc",
        "._gram_buckets.json.crc",
        "_fold_history_batch.json",
        "_gram_buckets.json",
    ]
    for prefix, mk, read, payload, (first, second, kept), sidecars in [
        ("delta", mk_counts, read_counts, counts_payload, (0, 1, 2), []),
        ("batch", mk_grams, read_grams, grams_payload, (0, 3, 4), gram_sidecars),
    ]:
        def dirs(c):
            return sorted(n for n in os.listdir(c) if n.startswith(prefix + "="))

        tmp = f"_compacting_{prefix}_{first}"
        journal = f"_fold_journal_{prefix}.json"
        meta = {"prefix": prefix, "publish": first, "tmp": tmp,
                "delete": [first, second]}
        on_disk = [f"{prefix}={i}" for i in (first, second, kept)]
        folded = [f"{prefix}={i}" for i in (first, kept)]

        # -- (A) crash mid-temp-write, journal never committed --------------
        ca = mk(tmp_path / prefix / "a")
        before = read(ca)
        assert before
        os.makedirs(os.path.join(ca, tmp))
        with open(os.path.join(ca, tmp, "part-junk"), "w") as f:
            f.write("not parquet")
        assert read(ca) == before  # readers never look at temp dirs
        assert os.path.exists(os.path.join(ca, tmp))  # no mutation
        assert recover_fold(spark, ca, prefix) == "back"
        assert not os.path.exists(os.path.join(ca, tmp))
        assert sorted(os.listdir(ca)) == sidecars + on_disk

        # -- (B) crash after journal commit, before publish -----------------
        cb = mk(tmp_path / prefix / "b")
        assert read(cb) == before
        payload(cb, os.path.join(cb, tmp))
        with open(os.path.join(cb, journal), "w") as f:
            json.dump(meta, f)
        assert read(cb) == before  # sources authoritative, nothing excluded
        assert os.path.exists(os.path.join(cb, journal))  # no mutation
        assert recover_fold(spark, cb, prefix) == "forward"
        assert read(cb) == before
        assert dirs(cb) == folded
        assert not os.path.exists(os.path.join(cb, journal))

        # -- (C) crash after publish, before source deletes -----------------
        cc = mk(tmp_path / prefix / "c")
        payload(cc, os.path.join(cc, tmp))
        with open(os.path.join(cc, journal), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(os.path.join(cc, f"{prefix}={first}"))
        os.rename(os.path.join(cc, tmp), os.path.join(cc, f"{prefix}={first}"))
        # the second source is now BOTH inside the published fold and on
        # disk — readers must mask it or every read double-counts it.
        assert read(cc) == before  # exclusion mask, no mutation
        assert os.path.exists(os.path.join(cc, f"{prefix}={second}"))
        assert recover_fold(spark, cc, prefix) == "forward"
        assert read(cc) == before
        assert dirs(cc) == folded


@pytest.mark.slow
def test_compact_drift_counts_preserves_scores(spark, tmp_path):
    """Folding token-count deltas into one pre-summed delta leaves both
    the merged counts and the NEXT batch's drift metric identical."""
    import shutil

    from backend_big_data_spark.streaming.drift_monitor import (
        drift_monitor_sink,
        read_corpus_counts,
        read_drift_metrics,
    )
    from backend_big_data_spark.streaming.maintenance import compact_drift_counts

    counts, metrics = str(tmp_path / "counts"), str(tmp_path / "metrics")
    sink = drift_monitor_sink(counts, metrics)
    sink(_docs(spark, [(1, "alpha beta gamma alpha")]), 0)
    sink(_docs(spark, [(2, "beta beta delta")]), 1)
    sink(_docs(spark, [(3, "gamma epsilon")]), 2)
    before = sorted(map(tuple, read_corpus_counts(spark, counts).collect()))
    ctwin, mtwin = str(tmp_path / "ctwin"), str(tmp_path / "mtwin")
    shutil.copytree(counts, ctwin)
    shutil.copytree(metrics, mtwin)

    assert compact_drift_counts(spark, counts, keep_latest=1) == [0, 1]
    assert sorted(map(tuple, read_corpus_counts(spark, counts).collect())) == before

    b3 = _docs(spark, [(4, "alpha zeta zeta")])
    sink(b3, 3)
    drift_monitor_sink(ctwin, mtwin)(b3, 3)
    got = {r.batch_id: r.drift_fp for r in read_drift_metrics(spark, metrics).collect()}
    want = {r.batch_id: r.drift_fp for r in read_drift_metrics(spark, mtwin).collect()}
    assert got[3] == want[3]


# ---------------------------------------------------------------------------
# round-6c: quality calibration + diversity sampling
# ---------------------------------------------------------------------------


def test_doc_quality_calibration_budget_semantics(spark, tmp_path):
    """Crafted corpus with four distinct score buckets: the threshold must
    be the HIGHEST bucket meeting the 70%-of-tokens budget, and the
    per-source keep stats must follow from that single global cut."""
    import os

    from backend_big_data_spark.plans.all_plans import QUERIES

    rows = [
        # 10 tokens each; ttr 1.0 / 0.5 / 0.2 / 0.1 → buckets 250/125/50/25
        (1, " ".join(f"a{i}" for i in range(10)), "a"),
        (2, "b1 b2 b3 b4 b5 b1 b2 b3 b4 b5", "a"),
        (3, "c1 c2 c1 c2 c1 c2 c1 c2 c1 c2", "b"),
        (4, "d d d d d d d d d d", "b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    df.write.parquet(os.path.join(str(tmp_path), "documents.parquet"))
    out = {
        r.source: r
        for r in QUERIES["doc_quality_calibration"](spark, str(tmp_path)).collect()
    }
    # kept(250)=10 < 28, kept(125)=20 < 28, kept(50)=30 >= 28 → t*=50
    assert out["a"].threshold_bucket == 50 and out["b"].threshold_bucket == 50
    assert (out["a"].kept_docs, out["a"].kept_tokens, out["a"].kept_rate_fp) == (2, 20, 10000)
    assert (out["b"].kept_docs, out["b"].kept_tokens, out["b"].kept_rate_fp) == (1, 10, 5000)
    assert (out["a"].n_docs, out["a"].n_tokens) == (2, 20)
    assert (out["b"].n_docs, out["b"].n_tokens) == (2, 20)


def test_embedding_diversity_sample_strata(spark, tmp_path):
    """Crafted 2-d embeddings: 8 far-apart centroids (vec_id < 8), probe
    points at controlled distances from centroid 0 land in the expected
    (cluster, stratum) cells, each cell elects exactly one member as rep."""
    import os

    from backend_big_data_spark.plans.all_plans import QUERIES

    rows = [(i, [float(100 * (i + 1)), 0.0], 0) for i in range(8)]
    rows += [
        (8, [100.0, 0.1], 0),   # d2=0.01 → d2_fp=100   → cluster 0, stratum 0
        (9, [100.0, 1.0], 0),   # d2=1.0  → d2_fp=10000 → cluster 0, stratum 4
        (10, [200.0, 1.2], 0),  # d2=1.44 → d2_fp=14400 → cluster 1, stratum 5
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.write.parquet(os.path.join(str(tmp_path), "embeddings.parquet"))
    out = QUERIES["embedding_diversity_sample"](spark, str(tmp_path)).collect()
    cells = {(r.cluster, r.stratum): r for r in out}
    # every centroid's own vector sits at d2=0 in its stratum-0 cell
    assert set(cells) == {(i, 0) for i in range(8)} | {(0, 4), (1, 5)}
    assert cells[(0, 0)].n_members == 2  # vec 0 + vec 8
    assert cells[(0, 0)].min_d2_fp == 0 and cells[(0, 0)].max_d2_fp == 100
    assert cells[(0, 4)].rep_vec_id == 9 and cells[(0, 4)].n_members == 1
    assert cells[(1, 5)].rep_vec_id == 10
    assert cells[(0, 0)].rep_vec_id in (0, 8)
    # deterministic: identical grid on re-run
    again = QUERIES["embedding_diversity_sample"](spark, str(tmp_path)).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


@pytest.mark.slow
def test_sink_auto_compaction_policy(spark, tmp_path):
    """auto_compact_every bounds the directory count while preserving
    reads and admission decisions vs an uncompacted twin."""
    import os

    from backend_big_data_spark.streaming.drift_monitor import (
        drift_monitor_sink,
        read_corpus_counts,
        read_drift_metrics,
    )
    from backend_big_data_spark.streaming.ingest_dedup import (
        ingest_dedup_sink,
        read_corpus,
    )
    from backend_big_data_spark.text.dedup import release_dedup_caches

    cdir, twin = str(tmp_path / "c"), str(tmp_path / "t")
    auto = ingest_dedup_sink(cdir, threshold=0.5, auto_compact_every=2)
    plain = ingest_dedup_sink(twin, threshold=0.5)
    batches = [
        [(1, "alpha beta gamma delta epsilon zeta")],
        [(2, "one two three four five six seven")],
        [(3, "alpha beta gamma delta epsilon zeta tail")],  # near-dup of 1
        [(4, "completely fresh standalone content here")],
    ]
    for i, rows in enumerate(batches):
        auto(_docs(spark, rows), i)
        release_dedup_caches()
        plain(_docs(spark, rows), i)
        release_dedup_caches()
    n_dirs = len([d for d in os.listdir(cdir) if d.startswith("batch=")])
    assert n_dirs <= 3  # bounded: folded prefix + kept latest + current
    got = sorted(r.doc_id for r in read_corpus(spark, cdir).collect())
    want = sorted(r.doc_id for r in read_corpus(spark, twin).collect())
    assert got == want and 3 not in got

    mdir, md2 = str(tmp_path / "m"), str(tmp_path / "m2")
    k1, k2 = str(tmp_path / "k1"), str(tmp_path / "k2")
    dauto = drift_monitor_sink(k1, mdir, auto_compact_every=2)
    dplain = drift_monitor_sink(k2, md2)
    for i, rows in enumerate(batches):
        dauto(_docs(spark, rows), i)
        dplain(_docs(spark, rows), i)
    assert len([d for d in os.listdir(k1) if d.startswith("delta=")]) <= 3
    assert sorted(map(tuple, read_corpus_counts(spark, k1).collect())) == sorted(
        map(tuple, read_corpus_counts(spark, k2).collect())
    )
    got_m = {r.batch_id: r.drift_fp for r in read_drift_metrics(spark, mdir).collect()}
    want_m = {r.batch_id: r.drift_fp for r in read_drift_metrics(spark, md2).collect()}
    assert got_m == want_m


def test_cdc_chunks_resynchronize_after_insertion(spark, tmp_path):
    """The CDC property: inserting one token perturbs only the chunk it
    lands in — every chunk fingerprint outside that chunk survives, so
    the edited copy still collides with the original on shared runs."""
    import os

    from backend_big_data_spark.plans.all_plans import QUERIES

    import hashlib

    def is_boundary(tok: str) -> bool:  # replicate stable_hash % 8 == 0
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 8 == 0

    # build a corpus with KNOWN chunk structure: 4 chunks of exactly
    # 4 tokens each (every chunk opens with a boundary token)
    fillers = iter(f"f{i}" for i in range(10000))
    bounds = iter(f"b{i}" for i in range(10000))
    filler3 = lambda: [next(t for t in fillers if not is_boundary(t)) for _ in range(3)]
    boundary = lambda: next(t for t in bounds if is_boundary(t))
    chunks = [[boundary()] + filler3() for _ in range(4)]
    base_tokens = [t for c in chunks for t in c]
    base = " ".join(base_tokens)
    # insert one NON-boundary token into chunk 2 (tokens 8..11): only
    # that chunk's fingerprint changes; chunks 0, 1, 3 still collide
    ins = next(t for t in fillers if not is_boundary(t))
    edited = " ".join(base_tokens[:10] + [ins] + base_tokens[10:])
    rows = [(1, base, "a"), (2, edited, "a"), (3, "x1 x2 x3 x4", "b")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    df.write.parquet(os.path.join(str(tmp_path), "documents.parquet"))
    out = {
        r.source: r
        for r in QUERIES["doc_cdc_chunk_dups"](spark, str(tmp_path)).collect()
    }
    a = out["a"]
    # 33 tokens total; chunks 0/1/3 (12 tokens) collide in both copies
    # = 24 dup tokens; the edited chunk 2 (4 vs 5 tokens) does not
    assert (a.n_chunks, a.n_unique) == (8, 5)
    assert (a.dup_chunk_tokens, a.total_tokens) == (24, 33)
    assert out["b"].dup_chunk_tokens == 0


def test_leakage_safe_split_keeps_near_dups_together(spark, tmp_path):
    """Near-dup docs must land in the same split (cross-split near pairs
    = 0 by construction); singletons split independently."""
    import os

    from backend_big_data_spark.plans.all_plans import QUERIES

    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"
    rows = [
        (1, base, "a"),
        (2, base + " tail", "a"),          # near-dup of 1
        (3, "entirely different content here now", "a"),
        (4, "another standalone document body text", "b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    df.write.parquet(os.path.join(str(tmp_path), "documents.parquet"))
    out = QUERIES["doc_leakage_safe_split"](spark, str(tmp_path)).collect()
    assert sum(r.n_docs for r in out) == 4
    # docs 1+2 share a unit → 3 units across 4 docs
    assert sum(r.n_units for r in out) == 3
    assert all(r.cross_split_near_pairs == 0 for r in out)
    # the near pair is in exactly one split's population
    with_pair = [r for r in out if r.n_docs > r.n_units]
    assert len(with_pair) == 1 and with_pair[0].n_docs - with_pair[0].n_units == 1
