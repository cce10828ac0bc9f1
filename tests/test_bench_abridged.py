"""``bench.py``'s abridged stdout line picks its rows in the fixed
``HEADLINE`` order, so two runs with different timings print the same
row names, within the 1.5 KiB budget, with the omission count."""

from __future__ import annotations

import importlib.util
import json
import random
from pathlib import Path


def _bench():
    path = Path(__file__).resolve().parents[1] / "bench.py"
    spec = importlib.util.spec_from_file_location("bench", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _payload(bench, seed):
    rng = random.Random(seed)
    queries = {name: round(rng.uniform(0.05, 30.0), 3) for name in bench.HEADLINE}
    return {
        "metric": "total",
        "value": sum(queries.values()),
        "queries": queries,
        "full_table": "BENCH_FULL_c4_sf0.1.json",
    }


def test_abridged_rows_do_not_depend_on_timings():
    bench = _bench()
    a = bench._abridged(_payload(bench, 1))
    b = bench._abridged(_payload(bench, 2))
    assert list(a["queries"]) == list(b["queries"])
    assert list(a["queries"]) == bench.HEADLINE[: len(a["queries"])]
    for out in (a, b):
        assert len(json.dumps(out, separators=(",", ":"))) <= 1536
        assert out["queries_omitted"] == len(bench.HEADLINE) - len(out["queries"])
        assert out["queries_omitted"] > 0
