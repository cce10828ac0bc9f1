"""The on-disk layout of maintained directories has one owner,
`streaming/maintenance.py`: the bucket hash of a bucketed index and its
driver-side Python twin must agree on every key (a mismatch silently
drops probe rows from a pruned read), and no other module may restate
the reader rule or the bucketed layout."""

from __future__ import annotations

import ast
import pathlib
import random

from backend_big_data_spark.streaming.maintenance import (
    BucketedIndex,
    bucket_column,
    bucket_of,
)

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "backend_big_data_spark"
LAYOUT_OWNER = PACKAGE / "streaming" / "maintenance.py"


def _keys() -> list[str]:
    rng = random.Random(7)
    # ASCII, Latin-1, Greek/Cyrillic, CJK and astral-plane code points:
    # 1- to 4-byte UTF-8 sequences (no lone surrogates)
    pools = [(0x20, 0x7E), (0xA0, 0xFF), (0x370, 0x4FF), (0x4E00, 0x9FFF),
             (0x1F300, 0x1F64F)]
    randoms = [
        "".join(
            chr(rng.randint(*rng.choice(pools))) for _ in range(rng.randint(0, 12))
        )
        for _ in range(1000)
    ]
    return ["", "a", "the quick fox", "naïve café", "日本語のテキスト", "🙂🙃x"] + randoms


def test_python_bucket_twin_matches_spark_bucket_column(spark):
    widths = (1, 7, 64)
    index = BucketedIndex("keys", "k", "__kb", "_key_buckets.json")
    keys = _keys()
    rows = (
        spark.createDataFrame([(i, k) for i, k in enumerate(keys)], "i int, k string")
        .select("i", *[bucket_column(index, n).alias(f"b{n}") for n in widths])
        .collect()
    )
    assert len(rows) == len(keys)
    for r in rows:
        key = keys[r["i"]]
        assert [r[f"b{n}"] for n in widths] == [bucket_of(key, n) for n in widths], key


def _name(node) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _layout_offence(node, in_streaming: bool) -> str | None:
    if isinstance(node, ast.Call) and _name(node.func) == "fold_exclusions":
        return "fold_exclusions call (use maintenance.live_dirs)"
    if isinstance(node, ast.ImportFrom) and {a.name for a in node.names} & {
        "_fold", "_read_dirs", "_covered_names"
    }:
        return "private reader import"
    if (
        isinstance(node, ast.Subscript)
        and isinstance(node.value, ast.Call)
        and _name(node.value.func) == "hexdigest"
        and isinstance(node.slice, ast.Slice)
        and isinstance(node.slice.upper, ast.Constant)
        and node.slice.upper.value == 15
    ):
        return "md5 bucket twin (use maintenance.bucket_of)"
    if (
        in_streaming
        and isinstance(node, ast.BinOp)
        and isinstance(node.op, ast.Mod)
        and isinstance(node.left, ast.Call)
        and _name(node.left.func) == "stable_hash"
    ):
        return "bucket expression (use maintenance.bucket_column)"
    if (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith("_")
        and node.value.endswith("_buckets.json")
    ):
        return "width file name (use a maintenance.BucketedIndex)"
    return None


def test_layout_rules_live_only_in_maintenance():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == LAYOUT_OWNER:
            continue
        in_streaming = path.parent.name == "streaming"
        for node in ast.walk(ast.parse(path.read_text())):
            why = _layout_offence(node, in_streaming)
            if why:
                offenders.append(f"{path.relative_to(PACKAGE.parent)}:{node.lineno} {why}")
    assert offenders == [], "\n".join(offenders)


def test_read_dirs_skips_an_empty_partitioned_dir(spark, tmp_path):
    """An empty partitioned write leaves a ``batch=N`` dir holding only
    ``_SUCCESS``; Spark cannot infer a schema from it alone, so grouping
    it as a flat layout of its own would fail every read and erasure
    probe of the corpus."""
    from backend_big_data_spark.streaming.maintenance import read_dirs
    from backend_big_data_spark.streaming.retraction import dirs_holding

    base = str(tmp_path / "corpus")
    rows = spark.createDataFrame(
        [(1, 0), (2, 1), (3, 1)], "vec_id long, cluster int"
    )
    rows.write.partitionBy("cluster").parquet(f"{base}/batch=0")
    rows.limit(0).write.partitionBy("cluster").parquet(f"{base}/batch=1")
    names = ["batch=0", "batch=1"]
    assert sorted(r["vec_id"] for r in read_dirs(spark, base, names).collect()) == [1, 2, 3]
    assert dirs_holding(spark, base, [2, 3], "vec_id") == {"batch=0": 2}


def test_fold_keeps_a_column_only_newer_dirs_carry(spark, tmp_path):
    """A fold rewrites its sources for good, so it reads them with their
    merged schema: an ingest corpus started before the ``fp`` column
    existed keeps the newer batches' fingerprints through a fold whose
    oldest dir has no ``fp``."""
    from backend_big_data_spark.streaming.maintenance import compact_ingest_corpus

    base = str(tmp_path / "corpus")
    spark.createDataFrame([(1, "old text")], "id long, text string").write.parquet(
        f"{base}/batch=0"
    )
    for i in (1, 2):
        spark.createDataFrame(
            [(10 + i, f"text {i}", f"fp{i}")], "id long, text string, fp string"
        ).write.parquet(f"{base}/batch={i}")
    assert compact_ingest_corpus(spark, base, keep_latest=1) == [0, 1]
    folded = spark.read.parquet(f"{base}/batch=0")
    assert sorted(map(tuple, folded.select("id", "fp").collect())) == [
        (1, None),
        (11, "fp1"),
    ]
