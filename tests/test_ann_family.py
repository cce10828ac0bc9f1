"""The rules every ANN path shares live once, in `similarity/ann.py`: the
neighbor-ranking tail, the coarse-list probe and the sign-LSH kernel with
its plane family. The sign keys are stored on disk (the margin master's
``buckets/`` sidecar), so their format is pinned here literally; a
same-code round trip cannot notice a format change that would orphan
every stored master."""

from __future__ import annotations

import ast
import pathlib

import pytest

from backend_big_data_spark.similarity.ann import (
    lsh_cosine_topk,
    lsh_multiprobe_topk,
    sign_buckets,
    sign_planes,
)
from backend_big_data_spark.similarity.mining import margin_knn_pairs_lsh
from backend_big_data_spark.similarity.pq import ivf_pq_cosine_topk, pq_cosine_topk

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "backend_big_data_spark"
ANN_OWNER = PACKAGE / "similarity" / "ann.py"

VECS = [(1, [1.0, -2.0, 0.5, 3.0]), (2, [-0.25, 0.75, -1.5, 2.0])]


def _vecs(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<double>")


@pytest.mark.parametrize(
    "n_extra,expected",
    [
        (0, {1: ["0:1101", "1:0110"], 2: ["0:1101", "1:0100"]}),
        (
            1,
            {
                1: ["0:1101", "0:1100", "1:0110", "1:0010"],
                2: ["0:1101", "0:0101", "1:0100", "1:1100"],
            },
        ),
    ],
)
def test_sign_key_format_is_pinned(spark, n_extra, expected):
    planes = sign_planes("md5", dim=4, num_bits=4, num_tables=2)
    got: dict[int, list[str]] = {}
    # collect returns each vector's exploded keys in emission order
    for r in sign_buckets(_vecs(spark), planes, "x", n_extra).collect():
        got.setdefault(r["x_id"], []).append(r["bucket"])
    assert got == expected


@pytest.mark.parametrize(
    "build",
    [
        lambda df: lsh_cosine_topk(df, df, dim=4, plane_source="MD5"),
        lambda df: lsh_multiprobe_topk(df, df, dim=4, probes=1, plane_source="sha1"),
        lambda df: margin_knn_pairs_lsh(df, df, dim=4, plane_source=""),
    ],
    ids=["lsh_cosine_topk", "lsh_multiprobe_topk", "margin_knn_pairs_lsh"],
)
def test_unknown_plane_source_is_rejected(spark, build):
    with pytest.raises(ValueError, match="plane_source"):
        build(_vecs(spark))


@pytest.mark.parametrize(
    "build",
    [
        lambda df: pq_cosine_topk(df, df, m=3, dim=4),
        lambda df: ivf_pq_cosine_topk(df, df, m=3, dim=4, centroids=None),
    ],
    ids=["pq_cosine_topk", "ivf_pq_cosine_topk"],
)
def test_pq_rejects_a_dim_m_does_not_divide(spark, build):
    with pytest.raises(ValueError, match="subspaces"):
        build(_vecs(spark))


def _name(node) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _strings(node) -> set[str]:
    return {
        n.value
        for n in ast.walk(node)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    }


def _ann_offence(node) -> str | None:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and any(
        isinstance(d, ast.Call)
        and _name(d.func) == "pandas_udf"
        and "array<string>" in _strings(d)
        for d in node.decorator_list
    ):
        return "sign-key pandas_udf (use ann.sign_buckets)"
    if isinstance(node, ast.Compare) and "plane_source" in {
        _name(n) for n in [node.left, *node.comparators]
    }:
        return "plane_source comparison (use ann.sign_planes)"
    if isinstance(node, ast.Call) and _name(node.func) == "topk_per_group":
        order = [kw.value for kw in node.keywords if kw.arg == "order_by"]
        order += node.args[2:3]
        if any(_strings(o) & {"neighbor_id", "list_id"} for o in order):
            return "ANN ranking (use ann.rank_neighbors / ann.nearest_lists)"
    if (
        isinstance(node, ast.ImportFrom)
        and (node.module or "").startswith("backend_big_data_spark.similarity.")
        and any(a.name.startswith("_") for a in node.names)
    ):
        return "private similarity helper import"
    return None


def test_ann_rules_live_only_in_ann():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == ANN_OWNER:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            why = _ann_offence(node)
            if why:
                offenders.append(f"{path.relative_to(PACKAGE.parent)}:{node.lineno} {why}")
    assert offenders == [], "\n".join(offenders)
