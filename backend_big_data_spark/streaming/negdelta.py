"""Journaled negate-delta append — the erasure step shared by the
EXACTLY SUBTRACTABLE maintained families (additive keyed deltas: the
drift monitor's token counts, the CM sketch's cells).

Retraction for an additive log is one appended directory holding the
erased slice's rows with the measure column negated: every reader's
keyed sum then lands on exactly the surviving corpus — no batch
recount, no corpus rescan, cost = re-deriving the erased slice. The
delta lands as ``delta=-K`` (K = 1, 2, ... per erasure): streaming
batch ids are non-negative, so no replayed batch can ever overwrite a
negate delta, while compaction and readers treat it as an ordinary
delta (sum semantics).

The delta is published with `retraction.publish_dir` behind the
``_erase_journal.json`` commit point, the temp-dir publish the corpus
row removal uses too:

- temp directory written, journal absent → PRE-COMMIT crash: never
  listed by a reader, overwritten by the next append (the erasure never
  happened; caller re-runs);
- journal present → COMMITTED: any reader rolls FORWARD
  (`recover_negdelta`, called on entry) by publishing the temp over the
  target, then drops the journal.

`streaming/drift_monitor` and `streaming/cms_ingest` delegate here;
their crash matrices in tests/test_erasure_readout_parity.py exercise
both windows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from backend_big_data_spark.sources import fsutil
from backend_big_data_spark.streaming.retraction import (
    publish_dir,
    recover_publish,
)


def erase_journal_path(base_dir: str) -> str:
    return os.path.join(base_dir, "_erase_journal.json")


def recover_negdelta(
    spark: SparkSession, base_dir: str, family: str = "negdelta"
) -> None:
    """Roll a crashed `append_negdelta` forward (idempotent; called on
    entry by every reader and by the append itself)."""
    recover_publish(
        spark, base_dir, erase_journal_path(base_dir), f"{family} erasure"
    )


def append_negdelta(
    spark: SparkSession,
    base_dir: str,
    neg: DataFrame,
    family: str = "negdelta",
) -> dict:
    """Publish ``neg`` (the erased slice's rows, measure column already
    NEGATED by the caller) as the next ``delta=-K`` directory under the
    commit-point journal. Returns ``{"dir": name | None, "rows": n}``
    — ``dir`` is None when the negate frame is empty (nothing to
    subtract; publishing an empty delta would be harmless but noisy)."""
    recover_negdelta(spark, base_dir, family)
    ids = [
        int(n.split("=", 1)[1])
        for n in fsutil.list_subdirs(spark, base_dir, prefix="delta=")
    ]
    next_id = min([i for i in ids if i < 0], default=0) - 1
    name = f"delta={next_id}"
    tmp = f"_erasing_{-next_id}"
    neg.write.mode("overwrite").parquet(os.path.join(base_dir, tmp))
    n_rows = spark.read.parquet(os.path.join(base_dir, tmp)).count()
    if n_rows == 0:
        fsutil.delete(spark, os.path.join(base_dir, tmp))
        return {"dir": None, "rows": 0}
    publish_dir(
        spark,
        base_dir,
        erase_journal_path(base_dir),
        {"dir": name, "tmp": tmp},
        f"{family} erasure",
    )
    return {"dir": name, "rows": n_rows}


__all__ = ["append_negdelta", "erase_journal_path", "recover_negdelta"]
