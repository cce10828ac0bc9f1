"""Unit tests of the benchmark's own rules (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402
import measure  # noqa: E402
from photo_dashboard import ROUTES, draw_requests  # noqa: E402
from tracing import span_totals  # noqa: E402

SMALL_ROWS = {k: v // 10 for k, v in inputs.SF001_ROWS.items()}


# -- tail percentile: at least ten samples beyond it ---------------------------


@pytest.mark.parametrize("n", [20, 27, 54, 100, 1000])
def test_tail_percentile_keeps_ten_samples_beyond(n):
    p = measure.tail_percentile(n)
    rank = math.ceil(p / 100 * n)
    assert n - rank >= 10
    if p < 99:  # the next percentile up would leave fewer than ten beyond
        assert n - math.ceil((p + 1) / 100 * n) < 10


def test_tail_percentile_values():
    assert measure.tail_percentile(100) == 90
    assert measure.tail_percentile(1000) == 99
    assert measure.tail_percentile(27) == 62
    assert measure.tail_percentile(20) == 50
    assert measure.tail_percentile(19) is None  # no percentile at or above p50


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert measure.percentile(values, 90) == 90
    assert measure.percentile(values, 50) == 50
    assert measure.percentile([5.0], 90) == 5.0


# -- Harrell-Davis median -------------------------------------------------------


def test_hd_median_matches_median_on_symmetric_samples():
    assert measure.hd_median([7.0] * 9) == pytest.approx(7.0)
    assert measure.hd_median(list(range(1, 102))) == pytest.approx(51.0, rel=1e-5)
    assert measure.hd_median([1.0, 2.0, 3.0]) == pytest.approx(2.0, rel=1e-5)
    assert measure.hd_median([4.0]) == 4.0


def test_hd_median_moves_smoothly_across_a_gap():
    # 14 fast and 13 slow operations: the plain median is the slowest fast
    # one, and one fast operation turning slow moves it across the gap
    fast, slow = [100.0 + i for i in range(14)], [300.0 + i for i in range(13)]
    before, after = fast + slow, fast[:-1] + [305.5] + slow
    jump = measure.median(after) - measure.median(before)
    assert jump > 150
    assert abs(measure.hd_median(after) - measure.hd_median(before)) < jump / 5


def test_hd_median_rejects_empty():
    with pytest.raises(ValueError):
        measure.hd_median([])


# -- geometric mean of per-type medians ----------------------------------------


def test_geomean_of_medians_weighs_each_type_once():
    samples = [("a", 1.0), ("a", 100.0), ("a", 2.0)] + [("b", 8.0)]
    # medians 2 and 8; the ten extra "a" samples below do not tilt it
    assert measure.geomean_of_medians(samples) == pytest.approx(4.0)
    more = samples + [("a", 2.0)] * 10
    assert measure.geomean_of_medians(more) == pytest.approx(4.0)


def test_geomean_of_medians_rejects_empty():
    with pytest.raises(ValueError):
        measure.geomean_of_medians([])


# -- span self time -------------------------------------------------------------


def test_self_time_subtracts_union_of_children():
    assert measure.self_time(0, 10, []) == 10
    assert measure.self_time(0, 10, [(1, 3), (2, 4)]) == pytest.approx(7)  # overlap once
    assert measure.self_time(0, 10, [(-5, 2), (9, 20)]) == pytest.approx(7)  # clipped
    assert measure.self_time(0, 10, [(11, 12)]) == 10  # outside


def test_span_totals_self_time_and_nesting():
    spans = [
        {"id": 1, "name": "root", "parent": None, "op": "op0", "start": 0.0, "end": 1.0},
        {"id": 2, "name": "q", "parent": 1, "op": "op0", "start": 0.1, "end": 0.5},
        {"id": 3, "name": "q", "parent": 2, "op": "op0", "start": 0.2, "end": 0.3},
        {"id": 4, "name": "act", "parent": 1, "op": "op0", "start": 0.6, "end": 0.9},
    ]
    t = span_totals(spans)["op0"]
    assert t["root"] == pytest.approx(1000.0)
    assert t["root@self"] == pytest.approx(300.0)  # 1.0 - 0.4 - 0.3
    assert t["q"] == pytest.approx(400.0)  # the nested call counts once
    assert t["q@n"] == 2
    assert t["act"] == pytest.approx(300.0)


# -- job attribution -------------------------------------------------------------


def test_attribute_jobs_by_group_then_window():
    ops = [{"id": "op0", "start": 10.0, "end": 20.0},
           {"id": "op1", "start": 20.5, "end": 30.0}]
    jobs = [
        {"id": 0, "start": 11.0, "group": "op0"},
        {"id": 1, "start": 12.0, "group": None},  # thread-pool job inside op0
        {"id": 2, "start": 25.0, "group": "op0"},  # group wins over window
        {"id": 3, "start": 26.0, "group": None},
        {"id": 4, "start": 20.2, "group": None},  # between operations
        {"id": 5, "start": 40.0, "group": "other"},
    ]
    by_op, ungrouped, orphans = measure.attribute_jobs(jobs, ops)
    assert [j["id"] for j in by_op["op0"]] == [0, 1, 2]
    assert [j["id"] for j in by_op["op1"]] == [3]
    assert ungrouped == 3
    assert orphans == 2


# -- seeded inputs ---------------------------------------------------------------


def _catalog_bytes(seed, tmp_path) -> dict[str, bytes]:
    out = tmp_path / f"s{seed}-{len(list(tmp_path.iterdir()))}"
    inputs.write_catalog(seed, out, SMALL_ROWS)
    return {p.name: p.read_bytes() for p in sorted(out.iterdir())}


def test_catalog_same_seed_is_byte_identical(tmp_path):
    a = _catalog_bytes(3, tmp_path)
    b = _catalog_bytes(3, tmp_path)
    assert a == b
    assert len(a) == 10


def test_catalog_different_seed_differs(tmp_path):
    a = _catalog_bytes(3, tmp_path)
    c = _catalog_bytes(4, tmp_path)
    assert set(a) == set(c)
    for name in ("orders.parquet", "lineitem.parquet", "documents.parquet", "events.parquet"):
        assert a[name] != c[name]


def test_catalog_matches_table_schemas(tmp_path):
    out = tmp_path / "cat"
    inputs.write_catalog(1, out, SMALL_ROWS)
    docs = pq.read_table(out / "documents.parquet").to_pylist()
    assert all(d["n_chars"] == len(d["text"]) for d in docs)
    assert any(d["text"].endswith(" dup") for d in docs)  # near-duplicates present
    assert str(pq.read_table(out / "events.parquet").schema.field("ts").type) == "timestamp[us]"


def test_photos_same_seed_identical_and_seed_sensitive(tmp_path):
    def photos(seed, name):
        p = tmp_path / name
        inputs.write_photos(200, seed, p)
        return p.read_bytes()

    assert photos(5, "a.parquet") == photos(5, "b.parquet")
    assert photos(5, "a.parquet") != photos(6, "c.parquet")


def test_requests_cover_every_route_and_follow_the_seed():
    vocab = inputs.photo_vocab()
    a = draw_requests(7, vocab)
    assert sorted(r[0] for r in a) == sorted(r[0] for r in ROUTES)
    assert len(a) == 27
    assert a == draw_requests(7, vocab)
    assert a != draw_requests(8, vocab)


def test_monuments_seeded():
    assert inputs.monument_rows(1) == inputs.monument_rows(1)
    assert inputs.monument_rows(1) != inputs.monument_rows(2)
    assert len(inputs.monument_rows(1)) == 19


# -- quartile spread ---------------------------------------------------------------


def test_quartile_spread_matches_statistics_quantiles():
    med, q1, q3, spread = measure.quartile_spread([10, 11, 12, 13, 14, 15, 16, 17, 18, 19])
    assert med == 14.5
    assert (q1, q3) == (11.75, 17.25)
    assert spread == pytest.approx(5.5 / 14.5)


def test_run_exits_nonzero_without_engine(tmp_path):
    """In a directory holding only the benchmark, the run fails fast and
    prints no result."""
    import shutil
    import subprocess

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "photo_dashboard",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
    assert not (tmp_path / ".perfbench_work").exists()
    assert "backend_big_data_spark" in proc.stderr


def test_fixture_checks_rotate_over_all_names():
    from photo_dashboard import FIXTURE_CHECKS, fixture_check_names

    names = [f"q{i}" for i in range(14)]
    covered = set()
    for seed in range(1, 8):
        picked = fixture_check_names(names, seed)
        assert len(picked) == FIXTURE_CHECKS == len(set(picked))
        covered |= set(picked)
    assert covered == set(names)
