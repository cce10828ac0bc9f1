"""``photo_dashboard``: the reference system's own traffic.

One closed-loop client calls the 27 WSGI routes of
``photo.serve.create_app`` over a seeded photo table pinned in the Spark
cache, plus the 19-row monuments table. Every pass calls every route
once, in one seeded order, with parameters drawn once from the seed, so
every pass does the same work and must return the same bytes.

Checks: every response has status 200, every route's (decompressed)
body is identical across all passes of the run, and registered photo
queries (``plans.photo_plans``) match their DuckDB oracles on the
committed fixture ``tests/data/photos.parquet`` (a seeded rotation of
``FIXTURE_CHECKS`` per run).
"""

from __future__ import annotations

import gzip
import hashlib
import io
import json
import random
from functools import partial
from urllib.parse import urlencode

import inputs
from oracle import oracle_table, spark_table
from workload import BaseWorkload

#: Seeded photo rows (about 20 MB in the Spark cache, four partitions).
#: A run's wall time is mostly fixed (JVM start, the warm-up pass); the
#: rows add to it: 25k, 50k and 100k rows took 52-54, 55-64 and 61-80 s
#: a run (``STEADINESS.md``). 50k is the largest size whose runs fit the
#: benchmark's time budget of 4 + 22 x 2 runs in 3420 s with room for the
#: host's slow phases.
PHOTO_ROWS = 50_000

#: Registered photo queries checked against their oracles per run.
FIXTURE_CHECKS = 2

#: (route, query-string parameter names) — the 27 routes; the last two are
#: POST routes with a JSON body.
ROUTES = [
    ("/getFirstRows", ("limit",)),
    ("/photosByCoordinates", ()),
    ("/photosByTag", ("tag", "page")),
    ("/photoCountPosted", ()),
    ("/photoCountTaken", ()),
    ("/photoCountHour", ()),
    ("/photoPostedPerMonthByYear", ("year", "type")),
    ("/averageTimeToPost", ()),
    ("/countUsers", ()),
    ("/viewStats", ()),
    ("/commentStats", ()),
    ("/avgViewsPerYear", ()),
    ("/avgCommentsPerYear", ()),
    ("/firstPostPerYear", ()),
    ("/topTags", ("page",)),
    ("/proUsersDistribution", ()),
    ("/accuracyDistribution", ()),
    ("/searchOwner", ("username",)),
    ("/searchOwnerM", ("username",)),
    ("/top50Owners", ()),
    ("/getTopBrandAndCameras", ()),
    ("/topCamerasPerYear", ()),
    ("/years", ()),
    ("/runKMeans", ("k",)),
    ("/runKMeans2", ("k",)),
    ("/searchPhotos", ()),
    ("/tagAssociationRules", ()),
]


def draw_requests(seed: int, vocab: dict) -> list[tuple[str, str, str | None]]:
    """(route, query string, JSON body) for every route, in a seeded
    order, with seeded parameters."""
    rng = random.Random(seed)
    pick = {
        "limit": lambda: rng.choice([5, 10, 20]),
        "tag": lambda: rng.choice(vocab["tags"][:12]),
        "page": lambda: rng.randint(1, 2),
        "year": lambda: rng.randint(2019, 2023),
        "type": lambda: rng.choice(["posted", "taken"]),
        "username": lambda: rng.choice(vocab["users"]),
        "k": lambda: rng.randint(4, 5),
    }
    requests = []
    for route, params in ROUTES:
        qs = urlencode({p: pick[p]() for p in params})
        body = None
        if route == "/searchPhotos":
            y = rng.randint(2019, 2022)
            body = {
                "keyword": rng.choice(vocab["words"]),
                "dataInizio": f"{y}-01-01 00:00:00",
                "dataFine": f"{y + 1}-06-30 00:00:00",
                "tag_list": [rng.choice(vocab["tags"][:12])],
            }
        elif route == "/tagAssociationRules":
            body = {
                "minSupport": rng.choice([0.03, 0.04]),
                "minConfidence": rng.choice([0.1, 0.2]),
                "target_tags": [rng.choice(vocab["tags"][:5])],
            }
        requests.append((route, qs, None if body is None else json.dumps(body)))
    rng.shuffle(requests)
    return requests


def fixture_check_names(names: list[str], seed: int) -> list[str]:
    """The seed's share of the fixture oracle checks (a rotation)."""
    start = (seed * FIXTURE_CHECKS) % len(names)
    return [names[(start + i) % len(names)] for i in range(min(FIXTURE_CHECKS, len(names)))]


class Workload(BaseWorkload):
    ROOT_SPAN = "photo.serve"
    SPAN_METRICS = {
        "photo.build_ms": "photo.queries",
        "photo.action_ms": "action",
        "photo.ml_ms": "photo.ml",
        "photo.serve.self_ms": "photo.serve@self",
    }

    def generate(self) -> dict:
        inputs.write_photos(PHOTO_ROWS, self.seed, self.work / "photos.parquet")
        (self.work / "monuments.json").write_text(
            "".join(json.dumps(r) + "\n" for r in inputs.monument_rows(self.seed))
        )
        return {
            "photo_rows": PHOTO_ROWS,
            "monument_rows": 19,
            "photos_file_bytes": (self.work / "photos.parquet").stat().st_size,
            "requests": draw_requests(self.seed, inputs.photo_vocab()),
        }

    def setup(self) -> None:
        from backend_big_data_spark.photo.schema import read_monuments, read_photos_parquet
        from backend_big_data_spark.photo.serve import create_app

        df = read_photos_parquet(self.spark, str(self.work / "photos.parquet")).persist()
        df.count()
        monuments = read_monuments(self.spark, str(self.work / "monuments.json"))
        self.app = create_app(df, monuments)

    def pass_ops(self, pass_no: int):
        return [(route, partial(self._request, route, qs, body))
                for route, qs, body in self.inputs["requests"]]

    def _request(self, route: str, qs: str, body: str | None):
        environ = {
            "REQUEST_METHOD": "POST" if body else "GET",
            "PATH_INFO": route,
            "QUERY_STRING": qs,
            "HTTP_ACCEPT_ENCODING": "gzip",
        }
        if body:
            data = body.encode()
            environ["CONTENT_LENGTH"] = str(len(data))
            environ["wsgi.input"] = io.BytesIO(data)
        reply: dict = {}

        def start_response(status, headers):
            reply["status"], reply["headers"] = status, dict(headers)

        wire = b"".join(self.app(environ, start_response))
        if not reply["status"].startswith("200"):
            raise RuntimeError(f"{reply['status']}: {wire[:200]!r}")
        plain = gzip.decompress(wire) if reply["headers"].get("Content-Encoding") == "gzip" else wire
        return {"sha256": hashlib.sha256(plain).hexdigest(), "wire_bytes": len(wire)}

    def output_key(self, output) -> str:
        return output["sha256"] if output else "-"

    def install_tracing(self, tracer) -> None:
        super().install_tracing(tracer)
        from backend_big_data_spark.photo import api, ml, queries

        for mod, span in ((queries, "photo.queries"), (ml, "photo.ml"), (api, "photo.api")):
            for name, fn in list(vars(mod).items()):
                if callable(fn) and getattr(fn, "__module__", None) == mod.__name__ \
                        and not name.startswith("_") and not isinstance(fn, type):
                    tracer.wrap(mod, name, span)

    def layer_metrics(self, measured) -> dict:
        sizes = [o.output["wire_bytes"] for o in measured if o.output]
        return {"photo.serve.response_bytes": sum(sizes) / max(1, len(sizes))}

    def check(self, ops) -> list[str]:
        bodies: dict[str, set] = {}
        for o in ops:
            if o.ok:
                bodies.setdefault(o.type, set()).add(o.output["sha256"])
        for o in ops:
            if len(bodies.get(o.type, ())) > 1:
                o.ok, o.error = False, "body differs across passes"
        return self._fixture_checks()

    def _fixture_checks(self) -> list[str]:
        """Registered photo queries against their DuckDB oracles on the
        committed 2k-row fixture; each query is one attempted check. A run
        checks ``FIXTURE_CHECKS`` of them, chosen by the seed in rotation,
        so consecutive seeds cover them all."""
        import duckdb

        from backend_big_data_spark.plans import photo_plans
        from backend_big_data_spark.plans.registry import ORACLES, QUERIES

        names = fixture_check_names(sorted(
            n for n, fn in QUERIES.items()
            if fn.__module__ == photo_plans.__name__ and n in ORACLES), self.seed)
        con = duckdb.connect()
        failures = []
        for name in names:
            self.extra_attempted += 1
            try:
                df = QUERIES[name](self.spark, "")
                ok = spark_table(df.columns, df.collect()) == oracle_table(con, ORACLES[name])
            except Exception as exc:  # noqa: BLE001 - a failed check is counted
                ok, name = False, f"{name} ({type(exc).__name__}: {exc})"
            if not ok:
                self.extra_failed += 1
                failures.append(f"fixture oracle mismatch: {name}")
        con.close()
        return failures
