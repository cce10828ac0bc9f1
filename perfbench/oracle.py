"""The correctness gate's comparison rule, shared by the workload checks.

The rule itself is the repository's oracle-parity replay,
``tools/driver_sim.py`` (``_table``: columns by sorted name, rows as an
order-insensitive multiset, values normalised), loaded from there so the
benchmark compares exactly as the gate does.
"""

from __future__ import annotations

import hashlib

from workload import load_tool

_table = load_tool("driver_sim")._table


def spark_table(cols, rows):
    return _table(list(cols), [tuple(r) for r in rows])


def oracle_table(con, sql: str):
    res = con.execute(sql)
    return _table([d[0] for d in res.description], res.fetchall())


def table_digest(t) -> str:
    return hashlib.sha256(repr(t).encode()).hexdigest()
