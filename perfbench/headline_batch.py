"""``headline_batch``: registered headline queries over a seeded catalog.

One closed-loop client calls queries of ``plans.all_plans.QUERIES`` over
the ten catalog tables, generated from the seed (``CATALOG_ROWS``) and
read with ``sources.catalog.load_table`` (no ``warm_cache``). The
list covers the relational/TPC-H, window/temporal, text-dedup, ANN,
fuzzy-join, sketch and decile families, plus one row that maintains
state through a ``streaming`` sink's ``foreachBatch`` function inside
the query (per-batch KMV sketches written from a thread pool, then a
merged readout), so the sink, parquet write and directory-listing paths
are measured too.

Every pass first releases the engine's family caches through their
public ``release_*`` functions and the session cache, so every pass does
the same work; the seed shuffles the query order per pass.

Checks: every result's row count and values equal the query's DuckDB
oracle (``ORACLES``) over the same generated files, compared by the
correctness gate's rule; the oracle side is computed once per run.
"""

from __future__ import annotations

import os
import random
from functools import partial

import inputs
from oracle import oracle_table, spark_table, table_digest
from workload import BaseWorkload

#: Rows per generated catalog table (``inputs.SF001_ROWS`` gives sf0.01).
#: The scanned and shuffled tables are at a quarter of their sf0.1 size
#: (lineitem about 150k rows). A run's wall time is mostly fixed (JVM
#: start, the warm-up pass, the oracle checks): with lineitem at 75k, 150k
#: and 300k rows a run took 54-61, 49-57 and 66-77 s (``STEADINESS.md``),
#: and 150k is the largest that fits the benchmark's time budget of
#: 4 + 22 x 2 runs in 3420 s with room for the host's slow phases. ``part`` and ``documents`` stay at sf0.01 size or below:
#: the DuckDB oracles of ``part_fuzzy_match`` and ``doc_minhash_lsh_pairs``
#: grow quadratically (the fuzzy-match oracle takes 28 s at 4,000 parts),
#: and the checks run in every run.
CATALOG_ROWS = {
    "customer": 3_750,
    "supplier": 250,
    "part": 1_000,
    "orders": 37_500,
    "events": 25_000,
    "documents": 500,
    "embeddings": 1_250,
}

QUERY_NAMES = [
    "pricing_summary",
    "q9_product_profit",
    "q13_order_count_distribution",
    "events_user_sessions",
    "asof_signup_before_purchase",
    "doc_minhash_lsh_pairs",
    "doc_tfidf_top_terms",
    "ann_ivf_sq8_topk",
    "part_fuzzy_match",
    "corpus_token_cms_estimates",
    "lineitem_price_deciles",
    "events_user_kmv_sidecar",
]


class Workload(BaseWorkload):
    ROOT_SPAN = "plans.query"
    SPAN_METRICS = {
        "plans.build_ms": "plans.build",
        "plans.execute_ms": "plans.execute",
        "streaming.kmv_sink_ms": "streaming.kmv_sink",
        "streaming.readout_ms": "streaming.readout",
    }

    def __init__(self, root, work, seed) -> None:
        super().__init__(root, work, seed)
        self.sf_dir = work / "catalog"
        self.tmp = work / "tmp"
        self.written: dict[str, tuple[int, int]] = {}

    def generate(self) -> dict:
        rows = inputs.write_catalog(self.seed, self.sf_dir, CATALOG_ROWS)
        return {"table_rows": rows, "queries": QUERY_NAMES}

    def attach(self, spark) -> None:
        super().attach(spark)
        from backend_big_data_spark.plans.all_plans import ORACLES, QUERIES

        self.queries, self.oracles = QUERIES, ORACLES

    def setup(self) -> None:
        from backend_big_data_spark.sources.catalog import TABLES, load_table

        for name in TABLES:
            load_table(self.spark, str(self.sf_dir), name).schema

    def before_pass(self, pass_no: int) -> None:
        from backend_big_data_spark.plans.curation import release_pipeline_caches
        from backend_big_data_spark.plans.round6c import release_calibration_caches
        from backend_big_data_spark.text.dedup import release_dedup_caches

        release_dedup_caches()
        release_calibration_caches()
        release_pipeline_caches()
        self.spark.catalog.clearCache()

    def pass_ops(self, pass_no: int):
        order = list(QUERY_NAMES)
        random.Random(self.seed * 1000 + pass_no).shuffle(order)
        return [(name, partial(self._query, name)) for name in order]

    def _query(self, name: str):
        with self.span("plans.build"):
            df = self.queries[name](self.spark, str(self.sf_dir))
        with self.span("plans.execute"):
            rows = df.collect()
        return (df.columns, rows)

    def output_key(self, output) -> str:
        return table_digest(spark_table(*output)) if output else "-"

    def install_tracing(self, tracer) -> None:
        super().install_tracing(tracer)
        from backend_big_data_spark.streaming import kmv_ingest

        tracer.wrap_factory(kmv_ingest, "kmv_ingest_sink", "streaming.kmv_sink")
        tracer.wrap(kmv_ingest, "kmv_merged_readout", "streaming.readout")
        self._files_before = _tree(self.tmp)

    def after_op(self, op) -> None:
        now = _tree(self.tmp)
        new = {p: n for p, n in now.items() if p not in self._files_before}
        self.written[op.id] = (len(new), sum(new.values()))
        self._files_before = now

    def layer_metrics(self, measured) -> dict:
        n = len(measured)
        return {
            "sources.files_written": sum(self.written[o.id][0] for o in measured) / n,
            "sources.bytes_written": sum(self.written[o.id][1] for o in measured) / n,
            "sources.state_dirs": sum(1 for p in self.tmp.iterdir() if p.is_dir()),
        }

    def check(self, ops) -> list[str]:
        expected = self._oracle_tables()
        for o in ops:
            if not o.ok:
                continue
            got = spark_table(*o.output)
            want = expected[o.type]
            if got != want:
                o.ok = False
                o.error = f"{len(got[1])} rows vs oracle {len(want[1])}, values differ"
            elif not want[1]:
                o.ok, o.error = False, "oracle and query both empty"
        return []

    def _oracle_tables(self) -> dict:
        """Every query's DuckDB oracle result over the generated files."""
        import duckdb

        con = duckdb.connect()
        for t in os.listdir(self.sf_dir):
            name = t.removesuffix(".parquet")
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self.sf_dir / t}')"
            )
        expected = {name: oracle_table(con, self.oracles[name]) for name in QUERY_NAMES}
        con.close()
        return expected


def _tree(base) -> dict[str, int]:
    """Every file under ``base`` with its size."""
    out = {}
    for d, _, files in os.walk(base):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out
