#!/usr/bin/env python
"""sf>=1 compute-bound bench subset (r12 verdict item 2).

The driver's sf0.1 bench has hit its resolution floor for most rows
(28/36 sampled rows flat-or-inverse from 8->32 cores): per-query seconds
are stage-count / fixed-overhead terms, not data throughput. This tool
gives the optimization loop signal again: the genuinely COMPUTE-BOUND
operator families run over 1x and 10x replicated sf0.1 inputs (10x of
sf0.1 ~= sf1 volume), with the repo's established replication
discipline (entity keys shifted / vocabularies tagged so replicas never
interact and output mass stays linear — see tools/scale_linkage.py
at f87ca7f).

Families (the verdict's list): part_fuzzy (two-sided Ed-Join + the
indexed probe), KN trigram model + perplexity, ccnet perplexity
buckets, DSIR importance weights, token containment/jaccard verify,
truncation recall.

Emits one JSON line and writes BENCH_SF1.json next to the repo root:
{"metric": "sf1_compute_bound", "rows": {name: {"sec_1x": s,
 "sec_10x": s, "ratio": r}}, "factor": 10, "sf_base": 0.1}

This is a committed measurement artifact, NOT part of the driver bench
contract (bench.py is unchanged); it exists so per-row claims about
scale behavior are evidence-backed rather than sf0.1-noise-backed.

Usage: python tools/bench_sf1.py [sf_dir] [--factor N] [--runs N]
       [--only fam1,fam2]
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from backend_big_data_spark.session import get_spark  # noqa: E402
from backend_big_data_spark.sources.catalog import load_table  # noqa: E402


def timed(fn, runs: int) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def noop(df: DataFrame) -> None:
    """Guide §1.4: eagerly compute every column of every row, no sink."""
    df.write.format("noop").mode("overwrite").save()


# -- replication (entity-shifted, non-interacting) --------------------------

def replicate_docs(docs: DataFrame, factor: int) -> DataFrame:
    """doc_id-shifted replicas, text unchanged: volume grows xfactor
    while the token vocabulary saturates — the realistic LM-corpus
    regime (counts scale, TYPE tables do not)."""
    if factor == 1:
        return docs
    reps = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("rep")
    return docs.select("doc_id", "text", reps).select(
        (F.col("doc_id") + F.col("rep") * 100_000_000).alias("doc_id"),
        "text",
    )


def replicate_strings_disjoint(df: DataFrame, factor: int) -> DataFrame:
    """Fuzzy-linkage replicas with a replica letter interleaved every
    2nd character (the tools/scale_linkage.py discipline, f87ca7f):
    replica gram spaces are disjoint, matches stay within-replica,
    candidate mass grows linearly."""
    if factor == 1:
        return df
    reps = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("rep")
    tag = F.element_at(
        F.split(F.lit("A,B,C,D,E,F,G,H,I,J,K,L,M,N,O,P"), ","),
        F.col("rep") + 1,
    )
    interleaved = F.array_join(
        F.transform(
            F.split(F.regexp_replace("s", "(..)", "$1\x1f"), "\x1f"),
            lambda chunk: F.concat(chunk, tag),
        ),
        "",
    )
    return df.select("id", "s", reps).select(
        (F.col("id") + F.col("rep") * 10_000_000).alias("id"),
        interleaved.alias("s"),
    )


def replicate_tokens_disjoint(df: DataFrame, factor: int) -> DataFrame:
    """Token-set replicas with per-replica token tags
    (the tools/scale_setsim.py discipline, f87ca7f)."""
    if factor == 1:
        return df
    reps = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("rep")
    tagged = F.array_join(
        F.transform(
            F.split("s", r"\s+"),
            lambda t: F.concat(t, F.lit("~"), F.col("rep").cast("string")),
        ),
        " ",
    )
    return df.select("id", "s", reps).select(
        (F.col("id") + F.col("rep") * 10_000_000).alias("id"),
        tagged.alias("s"),
    )


def replicate_vectors(emb: DataFrame, factor: int) -> DataFrame:
    """vec_id-shifted replicas, vectors unchanged: corpus grows, per-
    query candidate work grows with it (the brute/recall scan term)."""
    if factor == 1:
        return emb
    reps = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("rep")
    return emb.select("vec_id", "embedding", reps).select(
        (F.col("vec_id") + F.col("rep") * 100_000_000).alias("vec_id"),
        "embedding",
    )


# -- families ----------------------------------------------------------------

def fam_fuzzy(spark, sf_dir, factor):
    from backend_big_data_spark.operators.fuzzyjoin import edit_distance_join
    from backend_big_data_spark.plans.round7c import _corrupt, _entities

    clean = replicate_strings_disjoint(_entities(spark, sf_dir), factor)
    dirty = _corrupt(clean)
    return lambda: noop(
        edit_distance_join(dirty, clean, max_dist=2, q=3).select(
            "left_id", "right_id", "edit_dist"
        )
    )


def fam_fuzzy_indexed(spark, sf_dir, factor):
    from backend_big_data_spark.operators.fuzzyjoin import (
        edit_distance_join_indexed,
        gram_index,
    )
    from backend_big_data_spark.plans.round7c import _corrupt, _entities

    clean = replicate_strings_disjoint(_entities(spark, sf_dir), factor)
    dirty = _corrupt(clean)
    index = gram_index(clean, q=3).repartition(
        spark.sparkContext.defaultParallelism
    )
    return lambda: noop(
        edit_distance_join_indexed(
            dirty, index, F.broadcast(clean), max_dist=2, q=3,
            rank_by_index_freq=True, inline_strings=True,
        ).select("left_id", "right_id", "edit_dist")
    )


def fam_kn3(spark, sf_dir, factor):
    from backend_big_data_spark.text.kneser_ney import kn3_doc_nll

    docs = replicate_docs(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        factor,
    )
    return lambda: noop(kn3_doc_nll(docs))


def fam_ccnet(spark, sf_dir, factor):
    from backend_big_data_spark.plans.all_plans import QUERIES

    if factor == 1:
        return lambda: noop(QUERIES["doc_ccnet_ppl_buckets"](spark, sf_dir))
    # inline the round9 chain over the replicated corpus (the registered
    # query is keyed on sf_dir; the chain below is the same code path:
    # kn_doc_nll -> bin histogram -> thresholds -> bucket aggregate)
    from pyspark.sql import Window

    from backend_big_data_spark.text.kneser_ney import kn_doc_nll

    docs = replicate_docs(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        factor,
    )

    def run():
        scored = kn_doc_nll(docs).select(
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            "nll_fp",
            F.expr("nll_fp div (n_bigrams * 100)").alias("bin"),
        ).localCheckpoint(eager=True)
        hist = scored.groupBy("bin").agg(F.count(F.lit(1)).alias("bn"))
        w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        cum = hist.withColumn("cum", F.sum("bn").over(w)).crossJoin(
            F.broadcast(hist.agg(F.sum("bn").alias("tot")))
        )
        th = cum.agg(
            F.min(F.when(F.col("cum") * 3 >= F.col("tot"), F.col("bin"))).alias("t1"),
            F.min(F.when(F.col("cum") * 3 >= F.col("tot") * 2, F.col("bin"))).alias("t2"),
        )
        noop(
            scored.crossJoin(F.broadcast(th)).select(
                F.when(F.col("bin") <= F.col("t1"), "a:head")
                .when(F.col("bin") <= F.col("t2"), "b:middle")
                .otherwise("c:tail")
                .alias("bucket")
            ).groupBy("bucket").agg(F.count(F.lit(1)).alias("n_docs"))
        )

    return run


def fam_dsir(spark, sf_dir, factor):
    from backend_big_data_spark.text.dsir import importance_weights

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    raw = replicate_docs(docs, factor)
    target = docs.where(F.col("doc_id") % 7 == 0)
    return lambda: noop(importance_weights(raw, target))


def fam_containment(spark, sf_dir, factor):
    from backend_big_data_spark.operators.setsimjoin import (
        token_containment_join,
    )

    part = load_table(spark, sf_dir, "part")
    recs = replicate_tokens_disjoint(
        part.select(
            F.col("p_partkey").cast("long").alias("id"),
            F.concat_ws(" ", "p_name", "p_brand", "p_type").alias("s"),
        ),
        factor,
    )
    probe = recs.where(F.col("id") % 10 == 0)
    return lambda: noop(
        token_containment_join(probe, recs, 4, 5).where(
            "probe_id != base_id"
        )
    )


def fam_jaccard(spark, sf_dir, factor):
    from backend_big_data_spark.operators.setsimjoin import token_jaccard_join

    part = load_table(spark, sf_dir, "part")
    recs = replicate_tokens_disjoint(
        part.select(
            F.col("p_partkey").cast("long").alias("id"),
            F.concat_ws(" ", "p_name", "p_brand", "p_type").alias("s"),
        ),
        factor,
    )
    return lambda: noop(
        token_jaccard_join(recs, recs, 3, 5).where("left_id < right_id")
    )


def fam_trunc_recall(spark, sf_dir, factor):
    from backend_big_data_spark.similarity.mining import truncated_recall_eval

    emb = replicate_vectors(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        factor,
    )
    queries = emb.where(F.col("vec_id") % 200 == 3).limit(50)
    return lambda: noop(
        truncated_recall_eval(emb, queries, k=10, dims=(8, 16, 32))
    )


FAMILIES = {
    "part_fuzzy_match": fam_fuzzy,
    "part_fuzzy_match_indexed": fam_fuzzy_indexed,
    "doc_kn3_perplexity": fam_kn3,
    "doc_ccnet_ppl_buckets": fam_ccnet,
    "doc_dsir_weights": fam_dsir,
    "part_token_containment": fam_containment,
    "part_token_jaccard": fam_jaccard,
    "embedding_trunc_recall": fam_trunc_recall,
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    spark = get_spark(app_name="bench_sf1")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    names = list(FAMILIES)
    if args.only:
        want = {n.strip() for n in args.only.split(",")}
        names = [n for n in names if n in want]

    rows = {}
    for name in names:
        fam = FAMILIES[name]
        secs = {}
        for factor in (1, args.factor):
            spark.sparkContext.setJobDescription(
                f"bench_sf1:{name}@{factor}x"
            )
            fn = fam(spark, args.sf_dir, factor)
            fn()  # absorb codegen/JIT for this shape
            secs[factor] = round(timed(fn, args.runs), 3)
        ratio = round(secs[args.factor] / secs[1], 2) if secs[1] else None
        rows[name] = {
            "sec_1x": secs[1],
            f"sec_{args.factor}x": secs[args.factor],
            "ratio": ratio,
        }
        print(f"-- {name}: 1x={secs[1]}s {args.factor}x="
              f"{secs[args.factor]}s ratio={ratio}", file=sys.stderr)

    payload = {
        "metric": "sf1_compute_bound",
        "sf_base": args.sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "factor": args.factor,
        "runs_per_point": args.runs,
        "timing": "noop sink (guide §1.4), min-of-runs, warm JVM",
        "rows": rows,
    }
    out = pathlib.Path(__file__).resolve().parent.parent / "BENCH_SF1.json"
    if out.exists():
        # --only reruns update their rows; other families' records stay
        prev = json.loads(out.read_text())
        if (
            prev.get("factor") == payload["factor"]
            and prev.get("sf_base") == payload["sf_base"]
        ):
            merged = dict(prev.get("rows", {}))
            merged.update(rows)
            payload["rows"] = merged
    out.write_text(json.dumps(payload, indent=1) + "\n")
    print(json.dumps(payload, separators=(",", ":")))


if __name__ == "__main__":
    main()
