"""The fixed corpus of the query workload, and its DuckDB oracle check.

The headline queries read ten tables (a TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``) as ``<dir>/<table>.parquet``.
:data:`CORPUS_DIR` holds a byte-for-byte copy of the project's reference
test data at scale factor 0.01 (``TESTDATA.md``: generated once with seed
42; 60,000 ``lineitem`` rows, 500 documents, 500 embeddings). The data is
fixed, so the workload seed does not change it.

:func:`oracle_digests` runs every query's ``oracle_sql()`` on DuckDB over
the same files; results are compared by column names, row count and the
order-insensitive value digest of ``tools/check_oracle.py``.
"""

from __future__ import annotations

import functools
import importlib.util
import os

CORPUS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


@functools.lru_cache(maxsize=None)
def _digest_module(root: str):
    """``tools/check_oracle.py``'s normalisation, loaded by path."""
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(root: str, cols: list[str], rows: list[tuple]) -> tuple:
    """(sorted column names, row count, order-insensitive value digest)."""
    return sorted(cols), len(rows), _digest_module(root).df_digest(cols, rows)[0]


def oracle_digests(root: str, corpus_dir: str, names) -> dict[str, tuple]:
    """:func:`digest` of DuckDB running ``oracle_sql()[name]`` per query."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')"
        )
    out = {}
    for name in names:
        rel = con.sql(oracles[name])
        out[name] = digest(root, list(rel.columns), rel.fetchall())
    con.close()
    return out
